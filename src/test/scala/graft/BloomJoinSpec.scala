package graft

import graft.operators.BloomJoin
import org.apache.spark.sql.functions._

/** Bloom semi-join reduction (operators.BloomJoin): result identity with
  * the plain join (zero false negatives by construction), and a MEASURED
  * shuffle-byte drop — the instrument-backed version of the 100 TB
  * claim, not a plan-shape inference.
  */
class BloomJoinSpec extends SparkSpec {

  private def dim = Tables.t(spark, sfDir, "customer")
    .filter(col("c_mktsegment") === "BUILDING")
    .select(col("c_custkey"))

  private def fact = Tables.t(spark, sfDir, "orders")
    .select(col("o_custkey").as("c_custkey"), col("o_totalprice"))

  test("bloom-reduced join == plain join, row for row") {
    val plain = fact.join(dim, Seq("c_custkey"))
    val reduced = BloomJoin.join(fact, dim, "c_custkey")
    assert(reduced.count() == plain.count())
    assert(reduced.exceptAll(plain).isEmpty && plain.exceptAll(reduced).isEmpty)
  }

  test("reduce keeps every matching row (no false negatives)") {
    val matching = fact.join(dim, Seq("c_custkey"), "left_semi")
    val pre = BloomJoin.reduce(fact, dim, col("c_custkey"), col("c_custkey"))
    assert(matching.exceptAll(pre).isEmpty,
      "a fact row with a real dim match was dropped by the bloom filter")
  }

  test("mixed integral key types widen before hashing; non-integral mismatch rejects") {
    import spark.implicits._
    val f = Seq(1, 2, 3, 4, 5).toDF("k").select(col("k").cast("int").as("k"))
    val d = Seq(2L, 4L).toDF("k") // BIGINT — xxhash64(int 2) != xxhash64(long 2)
    val kept = BloomJoin.reduce(f, d, col("k"), col("k"))
      .select(col("k").cast("long")).as[Long].collect().toSet
    assert(Set(2L, 4L).subsetOf(kept),
      s"matching rows dropped across int/long key types: kept $kept")
    val sd = Seq("2", "4").toDF("k")
    intercept[IllegalArgumentException] {
      BloomJoin.reduce(f, sd, col("k"), col("k"))
    }
  }

  test("measured: the reduction deletes most of the fact side's shuffle bytes") {
    def run(pre: org.apache.spark.sql.DataFrame): Long = {
      val (_, write, _, _) = Harness.bytes(spark) {
        pre.hint("shuffle_hash").join(dim, Seq("c_custkey"))
          .groupBy("c_custkey").agg(count(lit(1))).collect()
      }
      write
    }
    val plainBytes = run(fact)
    val bloomBytes =
      run(BloomJoin.reduce(fact, dim, col("c_custkey"), col("c_custkey")))
    assert(plainBytes > 0, "plain shuffle join wrote no shuffle bytes — bad fixture")
    assert(bloomBytes < plainBytes,
      s"bloom-reduced join shuffled $bloomBytes B, not less than plain $plainBytes B")
    // BUILDING is ~1/5 of customers; allow generous slack over the ideal
    assert(bloomBytes.toDouble / plainBytes < 0.7,
      s"reduction too weak: $bloomBytes / $plainBytes")
  }
}
