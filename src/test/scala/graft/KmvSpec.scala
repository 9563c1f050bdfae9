package graft

import org.apache.spark.sql.functions._
import graft.functions.KmvMinK

/** The KMV distinct sketch's load-bearing properties: exact below
  * saturation, estimator accuracy at it, and MERGEABILITY — the result
  * must be a pure function of the value SET, independent of how rows are
  * split across partitions (that independence is what makes the k-long
  * partial state shuffle-safe). */
class KmvSpec extends SparkSpec {

  private val K = 64

  private def sketch(n: Int, parts: Int): (Long, Long) = {
    import spark.implicits._
    val df = (1 to n).map(i => s"v$i").toDF("v").repartition(parts)
      .select(graft.functions.Hashing.md5Long(col("v"), 15).as("h"))
    val r = df.agg(KmvMinK.kmvMinK(col("h"), K).as("s"))
      .select(KmvMinK.estimate(col("s"), K).as("est"),
        col("s").getField("held").cast("long").as("held"))
      .collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  test("below saturation the sketch IS the exact distinct count") {
    val (est, held) = sketch(40, 8)
    assert(held == 40L && est == 40L)
  }

  test("estimate lands within the k-governed error bound; duplicates ignored") {
    import spark.implicits._
    for (n <- Seq(500, 5000)) {
      val (est, held) = sketch(n, 16)
      assert(held == K)
      // ±1/sqrt(k−2) ≈ 12.7% at k=64; allow 4σ — a deterministic check
      // (fixed hash function), generous enough to never flap
      assert(math.abs(est - n).toDouble / n < 0.5,
        s"n=$n est=$est — estimator off by ${math.abs(est - n) * 100 / n}%")
    }
    // duplicate VALUES must not move the sketch: same 500 distinct, 10x rows
    import spark.implicits._
    val dup = (1 to 5000).map(i => s"v${i % 500 + 1}").toDF("v")
      .select(graft.functions.Hashing.md5Long(col("v"), 15).as("h"))
      .agg(KmvMinK.kmvMinK(col("h"), K).as("s"))
      .select(KmvMinK.estimate(col("s"), K).as("est")).collect()(0).getLong(0)
    assert(dup == sketch(500, 16)._1)
  }

  test("partition-split invariance: 1, 4, and 32 partitions agree exactly") {
    val results = Seq(1, 4, 32).map(p => sketch(3000, p))
    assert(results.distinct.size == 1,
      s"sketch depends on partitioning: $results")
    // the pair sample and the two stored-array merges ride the same
    // bounded state: their output is a pure function of the rows too
    import spark.implicits._
    val rows = (1 to 3000).map(i => (i % 24, s"r$i", (i * 7 % 101).toDouble))
      .toDF("cell", "key", "v")
      .select(col("cell"),
        graft.functions.Hashing.md5Long(col("key"), 15).as("h"), col("v"))
    val forms = Seq(1, 4, 32).map { p =>
      val perCell = rows.repartition(p).groupBy("cell").agg(
        KmvMinK.kmvMinKSet(col("h"), K).as("sk"),
        KmvMinK.kmvBottomKPairs(col("h"), col("v"), K).as("vs"))
      val r = perCell.repartition(p).agg(
          KmvMinK.kmvMergeSet(col("sk"), K).as("sk"),
          KmvMinK.kmvMergePairs(col("vs"), K).as("vs"))
        .select(col("sk"), col("vs.h"), col("vs.v")).collect()(0)
      val pairs = rows.repartition(p)
        .agg(KmvMinK.kmvBottomKPairs(col("h"), col("v"), K).as("vs"))
        .select(col("vs.h"), col("vs.v")).collect()(0)
      (r.getSeq[Long](0), r.getSeq[Long](1), r.getSeq[Double](2),
        pairs.getSeq[Long](0), pairs.getSeq[Double](1))
    }
    assert(forms.distinct.size == 1,
      s"pair sample or stored merges depend on partitioning: $forms")
  }

  test("sketch algebra: merging grouped kmv_min_k_set arrays == one-pass sketch") {
    import spark.implicits._
    // raw rows with a grouping dimension (the 'hour' of q41)
    val df = (1 to 3000).map(i => (i % 24, s"v${i % 900 + 1}"))
      .toDF("cell", "v").repartition(16)
      .select(col("cell"), graft.functions.Hashing.md5Long(col("v"), 15).as("h"))
    // path A: one pass over raw rows
    val direct = df.agg(KmvMinK.kmvMinK(col("h"), K).as("s"))
      .select(KmvMinK.estimate(col("s"), K).as("est")).collect()(0).getLong(0)
    // path B: per-cell sketch arrays, then re-aggregate over the sketch
    // CONTENTS only — the pre-aggregation pattern
    val perCell = df.groupBy("cell")
      .agg(KmvMinK.kmvMinKSet(col("h"), K).as("sk"))
    val merged = perCell.select(explode(col("sk")).as("h"))
      .agg(KmvMinK.kmvMinKSet(col("h"), K).as("sk"))
      .select(KmvMinK.estimateFromSet(col("sk"), K).as("est"))
      .collect()(0).getLong(0)
    assert(merged == direct,
      s"sketch union must equal the one-pass sketch: $merged vs $direct")
    // the arrays themselves are the k minima, sorted ascending, distinct
    val arr = perCell.select(col("sk")).collect()
      .map(_.getSeq[Long](0))
    assert(arr.forall(a => a.length <= K && a == a.sorted &&
      a.distinct.length == a.length))
    // SQL surface parity (GraftExtensions registration)
    GraftExtensions.register(spark)
    df.createOrReplaceTempView("kmv_alg_rows")
    val viaSql = spark.sql(
      s"SELECT kmv_min_k_set(h, $K) AS sk FROM kmv_alg_rows")
      .select(KmvMinK.estimateFromSet(col("sk"), K).as("est"))
      .collect()(0).getLong(0)
    assert(viaSql == direct)
  }

  test("bottom-k pairs: content is the k smallest (h, v), order-independent") {
    import spark.implicits._
    val rows = (1 to 2000).map(i => (s"r$i", i * 0.5))
    val df = rows.toDF("key", "v")
      .select(graft.functions.Hashing.md5Long(col("key"), 15).as("h"),
        col("v"))
    val expected = rows
      .map { case (key, v) =>
        // same 60-bit md5 the expression computes, via the hex prefix
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(key.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(15)
        (java.lang.Long.parseLong(hex, 16), v)
      }.sorted.take(K)
    for (parts <- Seq(1, 7, 32)) {
      val got = df.repartition(parts)
        .agg(KmvMinK.kmvBottomKPairs(col("h"), col("v"), K).as("s"))
        .select(explode(col("s")).as("p"))
        .select(col("p.h"), col("p.v"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == expected, s"parts=$parts")
    }
  }

  test("bottom-k pairs merge from per-cell samples == one-pass sample") {
    import spark.implicits._
    val df = (1 to 3000).map(i => (i % 24, s"r$i", (i * 7 % 101).toDouble))
      .toDF("cell", "key", "v").repartition(16)
      .select(col("cell"),
        graft.functions.Hashing.md5Long(col("key"), 15).as("h"), col("v"))
    val direct = df
      .agg(KmvMinK.kmvBottomKPairs(col("h"), col("v"), K).as("s"))
      .select(KmvMinK.sampleQuantile(col("s"), 0.5).as("p50"))
      .collect()(0).getDouble(0)
    val merged = df.groupBy("cell")
      .agg(KmvMinK.kmvBottomKPairs(col("h"), col("v"), K).as("s"))
      .select(explode(col("s")).as("p"))
      .agg(KmvMinK.kmvBottomKPairs(col("p.h"), col("p.v"), K).as("s"))
      .select(KmvMinK.sampleQuantile(col("s"), 0.5).as("p50"))
      .collect()(0).getDouble(0)
    assert(merged == direct)
    // SQL surface
    GraftExtensions.register(spark)
    df.createOrReplaceTempView("kmv_pairs_rows")
    val viaSql = spark.sql(
      s"SELECT kmv_bottom_k_pairs(h, v, $K) AS s FROM kmv_pairs_rows")
      .select(KmvMinK.sampleQuantile(col("s"), 0.5).as("p50"))
      .collect()(0).getDouble(0)
    assert(viaSql == direct)
  }

  test("merge aggregates over STORED arrays == one-pass over raw rows") {
    import spark.implicits._
    // per-cell persisted state, then a coarser rollup re-aggregating the
    // stored sketch/sample columns DIRECTLY — the q43 maintenance path
    val df = (1 to 3000).map(i => (i % 24, s"r$i", (i * 7 % 101).toDouble))
      .toDF("cell", "key", "v").repartition(16)
      .select(col("cell"),
        graft.functions.Hashing.md5Long(col("key"), 15).as("h"), col("v"))
    val perCell = df.groupBy("cell").agg(
      KmvMinK.kmvMinKSet(col("h"), K).as("sk"),
      KmvMinK.kmvBottomKPairs(col("h"), col("v"), K).as("vs"))
    val merged = perCell.agg(
        KmvMinK.kmvMergeSet(col("sk"), K).as("sk"),
        KmvMinK.kmvMergePairs(col("vs"), K).as("vs"))
      .select(col("sk"), KmvMinK.sampleQuantile(col("vs"), 0.5).as("p50"))
      .collect()(0)
    val direct = df.agg(
        KmvMinK.kmvMinKSet(col("h"), K).as("sk"),
        KmvMinK.kmvBottomKPairs(col("h"), col("v"), K).as("vs"))
      .select(col("sk"), KmvMinK.sampleQuantile(col("vs"), 0.5).as("p50"))
      .collect()(0)
    assert(merged.getSeq[Long](0) == direct.getSeq[Long](0))
    assert(merged.getDouble(1) == direct.getDouble(1))
    // SQL surface
    GraftExtensions.register(spark)
    perCell.createOrReplaceTempView("kmv_cells")
    val viaSql = spark.sql(
      s"SELECT kmv_merge_set(sk, $K) AS sk, kmv_merge_pairs(vs, $K) AS vs " +
        "FROM kmv_cells")
      .select(col("sk"), KmvMinK.sampleQuantile(col("vs"), 0.5).as("p50"))
      .collect()(0)
    assert(viaSql.getSeq[Long](0) == direct.getSeq[Long](0))
    assert(viaSql.getDouble(1) == direct.getDouble(1))
  }

  test("sample quantiles are exact below saturation") {
    import spark.implicits._
    // 50 rows < k=64: the sample IS the group, so nearest-rank quantiles
    // over the sample equal nearest-rank quantiles over the data
    val vs = (1 to 50).map(_.toDouble)
    val df = vs.map(v => (s"k$v", v)).toDF("key", "v")
      .select(graft.functions.Hashing.md5Long(col("key"), 15).as("h"),
        col("v"))
    val r = df.agg(KmvMinK.kmvBottomKPairs(col("h"), col("v"), K).as("s"))
      .select(KmvMinK.sampleQuantile(col("s"), 0.5).as("p50"),
        KmvMinK.sampleQuantile(col("s"), 0.9).as("p90"))
      .collect()(0)
    assert(r.getDouble(0) == 25.0 && r.getDouble(1) == 45.0)
  }

  test("kmv overlap: union-of-sketches == sketch-of-union; inclusion-exclusion lands") {
    import spark.implicits._
    // A = 1..3000, B = 2000..5000 — true |A∩B| = 1001, |A∪B| = 5000
    def hashed(lo: Int, hi: Int) = (lo to hi).map(i => s"v$i").toDF("v")
      .select(graft.functions.Hashing.md5Long(col("v"), 15).as("h"))
    def sk(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.agg(KmvMinK.kmvMinKSet(col("h"), K).as("s"))
        .collect()(0).getSeq[Long](0)
    val (ska, skb) = (sk(hashed(1, 3000)), sk(hashed(2000, 5000)))
    // q45's claim: the k smallest of A∪B derive from the two stored
    // arrays alone — no raw-row access
    val fromStored = (ska ++ skb).distinct.sorted.take(K)
    val direct = sk(hashed(1, 3000).unionAll(hashed(2000, 5000)))
    assert(fromStored == direct)
    def est(s: Seq[Long]): Long =
      if (s.size < K) s.size
      else math.round((K - 1).toDouble * 1.152921504606846976e18 / s.last)
    val inter = est(ska) + est(skb) - est(fromStored)
    // deterministic (fixed hash); inclusion-exclusion compounds three
    // ±13% estimators, so allow a wide but non-vacuous band
    assert(inter > 300 && inter < 1700, s"inter_est=$inter (true 1001)")
  }

  // ---- count-min frequency sketch (q44) ----

  test("cms: estimates are one-sided (est >= exact) and find planted heavy hitters") {
    import spark.implicits._
    import graft.operators.Relational
    // zipfish: key i occurs ceil(600/i) times — k1 dominates
    val rows = (1 to 200).flatMap(i => Seq.fill(600 / i + 1)(s"k$i"))
    val keys = rows.toDF("key").repartition(16)
    val out = Relational.cmsHeavyHittersOf(keys, depth = 4, width = 1024,
      topK = 5).collect()
    assert(out.length == 5)
    assert(out.head.getString(0) == "k1" && out.head.getLong(1) == 601L)
    // one-sided error: collisions only ADD counts
    out.foreach(r => assert(r.getLong(2) >= r.getLong(1),
      s"${r.getString(0)}: est ${r.getLong(2)} < exact ${r.getLong(1)}"))
    // at width 1024 with ~200 keys the top estimate should be near-exact
    assert(out.head.getLong(2) <= out.head.getLong(1) + 100)
  }

  test("cms probe of a persisted sketch: present keys one-sided, absent key reads 0") {
    import spark.implicits._
    import graft.operators.Relational
    val keys = (1 to 300).map(i => s"k${i % 12}").toDF("key")
    val path = java.nio.file.Files
      .createTempDirectory("cms_store").toString + "/sk"
    Relational.cmsSketchOf(keys, depth = 4, width = 1024)
      .write.mode("overwrite").parquet(path)
    val stored = spark.read.parquet(path)
    val probes = ((0 until 12).map(i => s"k$i") :+ "never-seen").toDF("key")
    val est = Relational.cmsEstimateOf(stored, probes, depth = 4,
      width = 1024).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = (1 to 300).map(i => s"k${i % 12}")
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    (0 until 12).foreach(i => assert(est(s"k$i") >= exact(s"k$i")))
    // a never-seen key's cells are all empty at this width — the LEFT
    // join must read them as ZERO counters, not drop them
    assert(est("never-seen") == 0L)
  }

  test("cms algebra: sketches over disjoint halves sum cell-wise to the one-pass sketch") {
    import spark.implicits._
    import graft.operators.Relational
    val rows = (1 to 3000).map(i => (i, s"k${i % 97}"))
    val df = rows.toDF("i", "key").repartition(16)
    def sk(d: org.apache.spark.sql.DataFrame) =
      Relational.cmsSketchOf(d.select("key"), depth = 4, width = 64)
    val direct = sk(df).orderBy("r", "cell").collect().toSeq
    val merged = sk(df.where(col("i") % 2 === 0))
      .unionByName(sk(df.where(col("i") % 2 === 1)))
      .groupBy("r", "cell").agg(sum("cnt").cast("long").as("cnt"))
      .orderBy("r", "cell").collect().toSeq
    assert(merged == direct)
  }
}
