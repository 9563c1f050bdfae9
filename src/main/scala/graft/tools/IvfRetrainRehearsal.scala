package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.sources.Tables

/** r13 verdict #6 — rehearse the FULL nightly IVF maintenance policy at
  * sf1 (200k vectors), not fixture scale: gated initial deploy → same-
  * distribution APPEND (must stay on the frozen quantizer) → DRIFTED
  * append (must trigger the warm rebuild + versioned pointer swap) →
  * recall audited across the swap on a panel spanning all three
  * populations.
  *
  * Drift model — measured, not assumed (a one-off sf1 probe: each
  * candidate transform applied to the vec_id % 4 = 3 vectors, scored by
  * mean assigned-centroid cosine against a 64-cell, 2-iteration quantizer
  * frozen on the even vec_ids): the fixture
  * embeddings are near-isotropic, so ANY direction-preserving transform
  * (negation, sign modulation, one-hot spikes, dim shuffle) still scores
  * mean best-cosine ≈ 0.26 against a 64-cell quantizer — direction
  * changes cannot starve max-cosine over spread centroids. The honest
  * worst-case drift this fixture admits is SUBSPACE drift: the build
  * population is masked to dims [0,32) (its centroids then carry zero
  * mass outside), and the drifted batch arrives masked to dims [32,64)
  * — a new modality whose embedding mass lives where the frozen
  * quantizer never saw any. Its assigned cosine is exactly 0 against
  * every centroid, far below `retrainBelow = 0.1`, which in turn sits
  * well below the build population's measured ≈ 0.26 — so the policy
  * must append the same-distribution batch and re-train on the drifted
  * one, with wide margins on both sides.
  *
  * Run: `sbt "runMain graft.tools.IvfRetrainRehearsal [sfDir] [root]"`.
  * Prints the per-phase table SCALING.md records; exits nonzero if the
  * policy takes the wrong branch or recall falls off a cliff across the
  * swap. */
object IvfRetrainRehearsal {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/target/sf1")
    val root = args.lift(1).getOrElse(
      "/root/repo/target/r14/ivf_rehearsal")
    val spark = graft.GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)

      val emb = Tables.t(spark, sfDir, "embeddings")
        .select("vec_id", "embedding")
      // subspace masks (see scaladoc): build/append live in dims [0,32),
      // the drifted batch in dims [32,64) — orthogonal to every centroid
      def lowHalf(e: org.apache.spark.sql.Column) =
        transform(e, (x, i) => when(i < 32, x).otherwise(lit(0.0f)))
      def highHalf(e: org.apache.spark.sql.Column) =
        transform(e, (x, i) => when(i >= 32, x).otherwise(lit(0.0f)))
      // three populations: build (even ids), same-distribution append
      // (ids ≡ 1 mod 4), drifted append (ids ≡ 3 mod 4, subspace-shifted)
      val build = emb.where(col("vec_id") % 2 === 0)
        .select(col("vec_id"), lowHalf(col("embedding")).as("embedding"))
      val appendSame = emb.where(col("vec_id") % 4 === 1)
        .select(col("vec_id"), lowHalf(col("embedding")).as("embedding"))
      val appendDrift = emb.where(col("vec_id") % 4 === 3)
        .select(col("vec_id"), highHalf(col("embedding")).as("embedding"))

      def ids(df: org.apache.spark.sql.DataFrame, n: Int): Seq[Long] =
        df.select("vec_id").orderBy("vec_id").limit(n).collect()
          .map(_.getLong(0)).toSeq
      val nprobe = 8
      val k = 10
      val cells = 64

      def t[A](f: => A): (A, Double) = {
        val t0 = System.nanoTime()
        val r = f
        (r, (System.nanoTime() - t0) / 1e9)
      }
      def recall(panel: Seq[Long]): Double = {
        val r = Similarity.auditIvfIndex(spark, root, panel, nprobe, k)
          .agg(avg("recall_pct")).head()
        if (r.isNullAt(0)) 0.0 else r.getDouble(0)
      }

      // phase 1: gated initial deploy (v1 + _current pointer)
      val panelBuild = ids(build, 16)
      val (g, tBuild) = t(Similarity.deployGatedIvfIndex(build, root,
        iters = 2, panelIds = panelBuild, nprobe = nprobe, k = k,
        floorPct = 0.0, cells = cells))
      require(g.deployed, s"initial gate refused: $g")
      val rec1 = recall(panelBuild)
      println(f"[ivf-rehearsal] build   v${g.version} n=${build.count()}%7d " +
        f"wall=$tBuild%6.1fs recall@$k(build)=$rec1%6.2f (gate ${g.meanRecallPct}%.2f)")

      // retrainBelow chosen from build-time assignment quality (the
      // scaladoc's rule): measured ≈ 0.26 on this fixture, minus a wide
      // margin → 0.1; the orthogonal drifted batch scores exactly 0
      val tau = 0.1

      // phase 2: same-distribution append — must NOT retrain
      val (m1, tApp) = t(Similarity.maintainIvfIndex(spark, root,
        appendSame, retrainBelow = tau, iters = 2))
      require(!m1.retrained,
        s"same-distribution batch must append, not retrain: $m1")
      val panelApp = ids(appendSame, 16)
      val rec2b = recall(panelBuild)
      val rec2a = recall(panelApp)
      println(f"[ivf-rehearsal] append  n=${m1.stats.nAppended}%7d " +
        f"meanCos=${m1.stats.meanCos}%6.3f wall=$tApp%6.1fs " +
        f"recall(build)=$rec2b%6.2f recall(appended)=$rec2a%6.2f")

      // phase 3: drifted append — MUST retrain (warm rebuild, v2 swap)
      val (m2, tRet) = t(Similarity.maintainIvfIndex(spark, root,
        appendDrift, retrainBelow = tau, iters = 2))
      require(m2.retrained,
        s"orthogonal-subspace batch must trigger the retrain: $m2")
      val panelDrift = ids(appendDrift, 16)
      val rec3b = recall(panelBuild)
      val rec3a = recall(panelApp)
      val rec3d = recall(panelDrift)
      println(f"[ivf-rehearsal] retrain meanCos=${m2.stats.meanCos}%6.3f " +
        f"wall=$tRet%6.1fs recall(build)=$rec3b%6.2f " +
        f"recall(appended)=$rec3a%6.2f recall(drifted)=$rec3d%6.2f")

      // the pointer swapped and the superseded version survives one round
      val versions = fs.listStatus(new org.apache.hadoop.fs.Path(root))
        .map(_.getPath.getName).filter(_.startsWith("v")).sorted.toSeq
      println(s"[ivf-rehearsal] versions on disk: ${versions.mkString(", ")}")
      require(versions.size == 2, s"expected v1 + v2, got $versions")

      // the floor: recall must not fall off a cliff across the swap for
      // ANY population — the gate this rehearsal exists to measure
      for ((nm, r) <- Seq("build" -> rec3b, "appended" -> rec3a,
          "drifted" -> rec3d))
        require(r >= 50.0, f"recall($nm) collapsed across the swap: $r%.2f")
      println("[ivf-rehearsal] PASS")
    } finally spark.stop()
  }
}
