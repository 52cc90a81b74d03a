package graft

import org.apache.spark.sql.functions._

import graft.operators.SimilarityOps

/** Pins the shared pair routing of [[SimilarityOps]] directly, on
  * synthetic frames where the expected pair set is known by counting:
  * the triangle tiling, the partner-hash role sharding and the
  * straggler-bound fanout rule behind both. The family specs check the
  * same routing only through each family's verify kernel. */
class PairRoutingSpec extends SparkSuite {

  test("triangle tiling emits every unordered pair of a bucket exactly once") {
    val n = 200
    val rows = spark.range(n).select(col("id").as("doc_id"), lit(7).as("bucket"))
    val all = (for (i <- 0L until n; j <- i + 1 until n) yield (i, j)).toSet
    for (tiles <- Seq(1, 2, 3, 16)) {
      val routed = rows.withColumn("g", SimilarityOps.tileOf("doc_id", tiles))
      val pairs = SimilarityOps.trianglePairs(routed, "doc_id",
          Seq("doc_id", "bucket"), Seq("bucket"), tiles)
        .select(least(col("a.doc_id"), col("b.doc_id")),
          greatest(col("a.doc_id"), col("b.doc_id")))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(pairs.size == all.size, s"tiles=$tiles: duplicated or missing pairs")
      assert(pairs.toSet == all, s"tiles=$tiles: pair set differs")
    }
  }

  test("triangle tiling never pairs rows of different buckets") {
    val rows = spark.range(60)
      .select(col("id").as("doc_id"), (col("id") % 3).as("bucket"))
    val routed = rows.withColumn("g", SimilarityOps.tileOf("doc_id", 4))
    val pairs = SimilarityOps.trianglePairs(routed, "doc_id",
        Seq("doc_id", "bucket"), Seq("bucket"), 4)
      .select(col("a.bucket"), col("b.bucket")).collect()
    assert(pairs.length == 3 * (20 * 19 / 2))
    assert(pairs.forall(r => r.getLong(0) == r.getLong(1)))
  }

  test("role sharding keeps the plain key join's edge set") {
    // batch ids 0..39, partner ids 100..399; 5 keys, so each key holds
    // a batch×partner block and the within case a batch×batch half
    val batch = spark.range(40)
      .select(col("id").as("doc_id"), (col("id") % 5).as("bucket"))
    val partner = spark.range(100, 400)
      .select(col("id").as("doc_id"), (col("id") % 5).as("bucket"))
    def edges(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.select(col("n.doc_id"), col("p.doc_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    for (within <- Seq(false, true)) {
      val p = if (within) batch else partner
      val plain = edges(batch.alias("n").join(p.alias("p"),
        col("n.bucket") === col("p.bucket") &&
        (if (within) col("p.doc_id") < col("n.doc_id") else lit(true))))
      assert(plain.nonEmpty)
      for (shards <- Seq(1, 7, 32)) {
        val got = edges(SimilarityOps.shardedPairs(batch, p, "doc_id",
          Seq("bucket"), shards, within))
        assert(got.size == plain.size,
          s"shards=$shards within=$within: ${got.size} edges vs ${plain.size}")
        assert(got.toSet == plain.toSet, s"shards=$shards within=$within")
      }
    }
  }

  test("fanout rule reproduces the measured sizing decisions") {
    // the 100× simhash probe histogram: hot, but under one core's share
    // on 32 cores; the same histogram on 1,000 cores needs tiling
    assert(SimilarityOps.tileFanout(32, 12600L, 11300000000L) == 1)
    assert(SimilarityOps.tileFanout(1000, 12600L, 11300000000L) == 4)
    // the 24k real corpus's fuzzy mirror cluster
    assert(SimilarityOps.shardFanout(32, 13588L, 685500000L) == 9)
    // clamps: a flat or empty histogram never routes, a single hot
    // bucket is capped
    assert(SimilarityOps.tileFanout(32, 0L, 0L) == 1)
    assert(SimilarityOps.shardFanout(32, 0L, 0L) == 1)
    assert(SimilarityOps.tileFanout(1000, 1000L, 1000000L) == 16)
    assert(SimilarityOps.shardFanout(1000, 1000L, 1000000L) ==
      SimilarityOps.RoleShards)
  }
}
