package graft

import org.apache.spark.sql.functions._
import graft.operators.Skew

/** Salted bucket self-join: identical pair set to the naive equi-join,
  * with per-cell group sizes bounded by the salt factor. */
class SkewSpec extends SparkSpec {

  import spark.implicits._

  // one hot bucket (500 members) + two small ones — the skew shape LSH
  // candidate generation produces on real corpora
  private lazy val df = spark.range(520).select(
    when(col("id") < 500, lit(0L)).otherwise(col("id") % 2 + 1).as("bucket"),
    col("id").as("vid"),
    (col("id") * 7).as("payload"))

  test("selfPairs emits exactly the naive join's pair set") {
    val salted = Skew.selfPairs(df, Seq("bucket"), "vid", maxGroup = 50)
      .select(col("a.vid").as("ida"), col("b.vid").as("idb"),
        col("a.payload").as("pa"), col("b.payload").as("pb"))
    val a = df.select(col("bucket"), col("vid").as("ida"), col("payload").as("pa"))
    val b = df.select(col("bucket"), col("vid").as("idb"), col("payload").as("pb"))
    val naive = a.join(b, "bucket").where(col("ida") < col("idb"))
      .select("ida", "idb", "pa", "pb")
    assert(salted.count() == naive.count())
    assert(salted.except(naive).isEmpty && naive.except(salted).isEmpty)
  }

  test("hot-bucket members are spread over ceil(n/maxGroup) salt cells") {
    // peek at the internal distribution by re-deriving the salt the same way
    val g = math.ceil(500.0 / 50).toInt
    val cells = df.where(col("bucket") === 0)
      .select(pmod(xxhash64(col("vid")), lit(g.toLong)).as("salt"))
      .groupBy("salt").count().collect()
    assert(cells.length == g) // all g cells populated
    // hash imbalance stays within 2x of the target group size
    assert(cells.map(_.getLong(1)).max <= 2L * 50)
  }

  test("small buckets pass through with a single salt cell (g=1)") {
    val pairs = Skew.selfPairs(df.where(col("bucket") > 0),
      Seq("bucket"), "vid", maxGroup = 50)
    // buckets 1 and 2 have 10 members each -> C(10,2) pairs per bucket
    assert(pairs.count() == 2 * 45)
  }

  test("construction is lazy: no data-dependent driver action, g in-plan") {
    // the salt factor is a per-bucket PLAN column, not a driver decision:
    // every job construction fires must be a Materialize.pin site — never
    // a histogram collect (the job count itself is AQE-dependent: a pinned
    // aggregate materializes its shuffle stage as its own job). Jobs are
    // submitted synchronously, so by the time selfPairs returns they have
    // run; a drain marker job after them (SparkSpec.jobStartsByTag) makes
    // the listener's record complete before checking.
    var pairs: org.apache.spark.sql.DataFrame = null
    val jobs = jobStartsByTag { tagged =>
      pairs = tagged("construct")(
        Skew.selfPairs(df, Seq("bucket"), "vid", maxGroup = 50))
    }
    val sites = jobs.values.flatten.flatMap(_.stageInfos.map(_.name))
    // any driver-side materialization counts, not just collect(): a
    // regression could just as easily sneak back in as head/first/
    // isEmpty/count/take on the histogram
    val actions =
      Seq("collect", "head", "first", "isEmpty", "count", "take", "show")
    // only stages whose call site is INSIDE the operator under test count
    // (Skew.scala, not SkewSpec.scala or another suite)
    val strays = sites.toSeq
      .filter(s => actions.exists(s.startsWith))
      .filter(_.contains(" Skew.scala"))
    assert(strays.isEmpty,
      s"construction ran driver actions: ${strays.mkString(", ")}")
    // the explode is structural (unskewed buckets degenerate to g = 1
    // inside the same plan), so Generate appears even for mixed input
    val plan = pairs.queryExecution.executedPlan.toString
    assert(plan.contains("Generate"), s"missing salt explode in:\n$plan")
  }

  test("reserved internal column names are rejected, not silently shadowed") {
    val bad = df.withColumnRenamed("payload", "__skew_salt")
    val e = intercept[IllegalArgumentException] {
      Skew.selfPairs(bad, Seq("bucket"), "vid", maxGroup = 50)
    }
    assert(e.getMessage.contains("__skew_salt"))
  }

  test("payload columns named a/b are allowed (only __skew_* is reserved)") {
    // 'a'/'b' are the OUTPUT struct names; plain single-letter payload
    // columns are common in ad-hoc frames and must survive the rename dance
    val ab = df.withColumnRenamed("payload", "a").withColumn("b", col("vid"))
    val pairs = Skew.selfPairs(ab.where(col("bucket") > 0),
      Seq("bucket"), "vid", maxGroup = 50)
    assert(pairs.count() == 2 * 45)
    assert(pairs.columns.toSeq == Seq("a", "b"))
    // the payload columns ride inside the structs
    assert(pairs.select(col("a.a"), col("a.b"), col("b.a")).count() == 90)
  }

  test("empty input yields an empty pair set via the fast path") {
    assert(Skew.selfPairs(df.where(col("bucket") < 0),
      Seq("bucket"), "vid", maxGroup = 50).isEmpty)
  }

  test("property: pair-set equality holds on random skews and maxGroups") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // random bucket-size profiles spanning fast path, salted path, and
    // mixes of both within one frame (scalatestplus is unavailable
    // offline — explicit sampling loop, failures print their seed)
    val profileGen = for {
      nBuckets <- Gen.choose(1, 5)
      sizes <- Gen.listOfN(nBuckets, Gen.oneOf(1, 2, 7, 40, 120))
      maxGroup <- Gen.oneOf(3, 16, 64)
    } yield (sizes, maxGroup)
    (1L to 6L).foreach { seed =>
      val (sizes, maxGroup) =
        profileGen.pureApply(Gen.Parameters.default, Seed(seed))
      withClue(s"seed=$seed sizes=$sizes maxGroup=$maxGroup") {
        val rows = sizes.zipWithIndex.flatMap { case (n, b) =>
          (0 until n).map(i => (b.toLong, (b * 1000 + i).toLong))
        }
        val in = rows.toDF("bucket", "vid")
        val got = Skew.selfPairs(in, Seq("bucket"), "vid", maxGroup)
          .select(col("a.vid").as("ida"), col("b.vid").as("idb"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val want = (for {
          (n, b) <- sizes.zipWithIndex
          i <- 0 until n; j <- (i + 1) until n
        } yield ((b * 1000 + i).toLong, (b * 1000 + j).toLong)).toSet
        assert(got == want)
      }
    }
  }
}
