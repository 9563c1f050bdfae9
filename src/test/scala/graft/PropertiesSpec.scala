package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.canonical.Canonical
import graft.ops.{Diff, Sync}
import graft.store.MessageStore

/** Property tests (SURVEY.md §5 engine test plan): canonicalization
  * determinism and the diff/sync algebra
  * `diff(a, apply(b, sync(diff(a, b)))) = ∅` — driven by ScalaCheck
  * generators with fixed seeds (scalatestplus isn't available offline, so
  * the sampling loop is explicit; failures print their seed). */
class PropertiesSpec extends SparkSpec {

  import spark.implicits._

  private val source = SourceDef("c", "s", "t", Seq("id"))

  private val rowsGen: Gen[List[(Long, String, Option[Double])]] = for {
    n <- Gen.choose(0, 12)
    ids <- Gen.pick(n, 0L to 30L)
    rows <- Gen.sequence[List[(Long, String, Option[Double])],
      (Long, String, Option[Double])](ids.map { id =>
      for {
        s <- Gen.alphaNumStr.map(_.take(6))
        d <- Gen.option(Gen.choose(-1000.0, 1000.0))
      } yield (id, s, d)
    })
  } yield rows

  private def sample[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  test("Md5Long60 == conv(substring(md5, 1, 15), 16, 10) on arbitrary strings") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // adversarial inputs: empty, ascii, unicode (multi-byte UTF-8),
    // whitespace, long, and 500 random alphanumerics
    val fixed = Seq("", "a", "the quick brown fox", "é é́ composed",
      "日本語テキスト", " \t padded ", "x" * 10000)
    val rnd = new scala.util.Random(42)
    val strs = fixed ++ (1 to 500).map(_ =>
      rnd.alphanumeric.take(rnd.nextInt(40)).mkString)
    val df = strs.toDF("s").select(
      graft.functions.Md5Long60.md5Long60(col("s")).as("fast"),
      conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long").as("ref"))
    assert(df.where(col("fast") =!= col("ref")).isEmpty)
    // and the interpreted path (inside a higher-order lambda) agrees too
    val lam = strs.toDF("s").select(
      element_at(transform(array(col("s")),
        x => graft.functions.Md5Long60.md5Long60(x)), 1).as("fast"),
      conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long").as("ref"))
    assert(lam.where(col("fast") =!= col("ref")).isEmpty)
  }

  test("canonical key/value JSON is deterministic under column reordering") {
    (1L to 8L).foreach { seed =>
      val rows = sample(rowsGen, seed)
      if (rows.nonEmpty) withClue(s"seed=$seed") {
        val df = rows.toDF("id", "name", "score")
        val shuffled = df.select("score", "id", "name")
        val a = Canonical.messages(df, source).orderBy("key")
          .collect().map(_.toSeq).toSeq
        val b = Canonical.messages(shuffled, source).orderBy("key")
          .collect().map(_.toSeq).toSeq
        assert(a == b)
      }
    }
  }

  test("sync(diff(a, b)) repairs b to match a (diff/sync algebra)") {
    (1L to 5L).foreach { seed =>
      val aRows = sample(rowsGen, seed)
      val bRows = sample(rowsGen, seed + 100)
      withClue(s"seed=$seed") {
        val store = emuStore("prop")
        val a = aRows.toDF("id", "name", "score")
        val b = bRows.toDF("id", "name", "score")
        if (bRows.nonEmpty) store.send(Canonical.messages(b, source))
        val topicState =
          if (bRows.nonEmpty) store.topicState(Seq(source.topic))
          else Canonical.messages(a, source).limit(0)
        val d = Diff.diff(Canonical.messages(a, source), topicState)
        Sync.syncFromDiff(d, store)
        val repaired = store.topicState(Seq(source.topic))
        val d2 = Diff.diff(Canonical.messages(a, source), repaired)
        assert(Diff.isEmpty(d2))
      }
    }
  }

  test("tombstoned keys = anti-join of topic vs table (O17 algebra)") {
    import org.apache.spark.sql.functions.col
    (1L to 8L).foreach { seed =>
      val aRows = sample(rowsGen, seed + 7)
      val bRows = sample(rowsGen, seed + 200)
      withClue(s"seed=$seed") {
        val a = aRows.toDF("id", "name", "score")
        val b = bRows.toDF("id", "name", "score")
        val d = Diff.diff(Canonical.messages(a, source),
          Canonical.messages(b, source))
        val deleted = d.where(col(Diff.Side) === "topic-only")
          .select("key").collect()
          .map(_.getString(0)).toSet
        val expected = bRows.map(_._1).toSet -- aRows.map(_._1).toSet
        assert(deleted == expected.map(id => s"""{"id":$id}"""))
      }
    }
  }

  /** A raw topic log in log order: each key pinned to partition key % 3,
    * offsets dense per partition, value None = tombstone. */
  private def logOf(events: Seq[(Int, Option[String])]) = {
    val next = collection.mutable.Map[Int, Long]().withDefaultValue(0L)
    events.map { case (k, v) =>
      val p = k % 3
      next(p) += 1
      ("t", s"k$k", v.orNull, p, next(p) - 1)
    }
  }

  private val diffCaseGen = for {
    tableKeys <- Gen.choose(0, 10).flatMap(n => Gen.pick(n, 0 to 14))
    table <- Gen.sequence[List[(Int, String)], (Int, String)](
      tableKeys.toList.map(k => Gen.oneOf("a", "b", "c").map(k -> _)))
    n <- Gen.choose(0, 30)
    events <- Gen.listOfN(n, for {
      k <- Gen.choose(0, 14)
      v <- Gen.frequency(4 -> Gen.oneOf("a", "b", "c").map(Some(_)), 1 -> Gen.const(None))
    } yield (k, v))
  } yield (table, events)

  test("diff over the raw log ≡ full-outer join against the compacted live state") {
    import org.apache.spark.sql.functions._
    def side = when(col("topic_value").isNull, "table-only")
      .when(col("table_value").isNull, "topic-only")
      .when(col("table_value") === col("topic_value"), "match")
      .otherwise("differs")
    val fixed = (
      List(1 -> "a", 2 -> "b", 3 -> "c", 5 -> "a"),
      List(1 -> Some("a"), 2 -> Some("a"), 4 -> Some("a"), 1 -> Some("b"),
        2 -> None, 6 -> Some("c"), 6 -> None, 3 -> None, 3 -> Some("c"),
        5 -> Some("a"), 1 -> Some("a")))
    // fixed: k1 rewritten back to its table value, k2 tombstoned last
    // while the table has it, k3's tombstone overwritten, k4 topic-only,
    // k6 tombstoned topic-only; then seeded logs, an empty table and an
    // empty log
    val cases = Seq(fixed, (Nil, fixed._2), (fixed._1, Nil), (Nil, Nil)) ++
      (1L to 10L).map(sample(diffCaseGen, _))
    cases.zipWithIndex.foreach { case ((table, events), i) =>
      withClue(s"case $i: table=$table log=$events") {
        val source = table.map { case (k, v) => ("t", s"k$k", v) }
          .toDF("topic", "key", "value")
        // log order shuffled across four input partitions
        val log = spark.sparkContext.parallelize(
          new scala.util.Random(i).shuffle(logOf(events)), 4)
          .toDF("topic", "key", "value", "partition", "offset")
        val live = MessageStore.compact(log).where(col("value").isNotNull)
          .select("topic", "key", "value")
        val oracle = source.withColumnRenamed("value", "table_value")
          .join(live.withColumnRenamed("value", "topic_value"),
            Seq("topic", "key"), "full_outer")
          .withColumn(Diff.Side, side)
        def rows(df: org.apache.spark.sql.DataFrame) = df
          .select("topic", "key", "table_value", "topic_value", Diff.Side)
          .collect().map(_.toSeq).toSeq.sortBy(_(1).toString)
        val expected = rows(oracle)
        assert(rows(Diff.diff(source, log)) == expected)
        // a compacted state without offsets is accepted unchanged
        assert(rows(Diff.diff(source, live)) == expected)
      }
    }
  }

  test("CMS one-sided error holds on arbitrary key multisets (seeded sampling)") {
    import org.apache.spark.sql.functions._
    val keysGen: Gen[List[String]] = for {
      n <- Gen.choose(1, 400)
      ks <- Gen.listOfN(n, Gen.choose(0, 60).map(i => s"k$i"))
    } yield ks
    for (seed <- 1L to 5L) {
      val ks = sample(keysGen, seed)
      withClue(s"seed=$seed") {
        val df = ks.toDF("key")
        val exact = ks.groupBy(identity).view.mapValues(_.size.toLong).toMap
        val out = graft.operators.Relational
          .cmsHeavyHittersOf(df, depth = 3, width = 32,
            topK = exact.size)
          .collect()
        // every key audited: estimate >= exact, and the exact column is
        // the true multiplicity
        assert(out.length == exact.size)
        out.foreach { r =>
          assert(r.getLong(1) == exact(r.getString(0)))
          assert(r.getLong(2) >= r.getLong(1), r.toString)
        }
      }
    }
  }

  test("KMV union-from-sketches == sketch-of-union on arbitrary sets (seeded)") {
    import org.apache.spark.sql.functions._
    import graft.functions.KmvMinK
    val k = 8
    val setGen: Gen[Set[Int]] = Gen.choose(0, 200)
      .flatMap(n => Gen.listOfN(n, Gen.choose(0, 500)).map(_.toSet))
    def sk(vs: Set[Int]): Seq[Long] =
      if (vs.isEmpty) Seq.empty
      else vs.map(i => s"v$i").toList.toDF("v")
        .select(graft.functions.Hashing.md5Long(col("v"), 15).as("h"))
        .agg(KmvMinK.kmvMinKSet(col("h"), k).as("s"))
        .collect()(0).getSeq[Long](0)
    for (seed <- 1L to 4L) {
      val (a, b) = (sample(setGen, seed), sample(setGen, seed + 50))
      withClue(s"seed=$seed") {
        val fromStored = (sk(a) ++ sk(b)).distinct.sorted.take(k)
        assert(fromStored == sk(a ++ b),
          "k-minima of the union must derive from the stored arrays")
      }
    }
  }

  test("property: rowSigOf (map-only, streaming) ≡ minhashSigOf (groupBy) on random corpora") {
    // the streaming near-dup path signs documents IN ROW; the batch path
    // (and the persisted ledger) signs via explode+groupBy. The two MUST
    // agree value-for-value — a drift would silently empty the
    // stream-static candidate join. Random corpora: repeated words
    // (duplicate shingles exercise the distinct semantics), empty and
    // sub-shingle docs (the null-minhash edge), multi-space whitespace.
    import graft.operators.Dedup
    val wordGen = Gen.oneOf((1 to 25).map(i => s"w$i"))
    val docGen = for {
      n <- Gen.choose(0, 40)
      ws <- Gen.listOfN(n, wordGen)
      sep <- Gen.oneOf(" ", "  ", " \t ")
    } yield ws.mkString(sep)
    for (seed <- 1L to 8L) {
      val texts = sample(Gen.listOfN(12, docGen), seed)
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val cols = Seq("doc_id", "set") ++ (1 to 16).map(i => s"m$i")
      def snap(df: org.apache.spark.sql.DataFrame) = df
        .select(cols.head, cols.tail: _*).collect()
        .map(r => r.getLong(0) ->
          (r.getSeq[Long](1), (2 until 18).map(j =>
            if (r.isNullAt(j)) None else Some(r.getLong(j)))))
        .toMap
      val row = snap(Dedup.rowSigOf(docs))
      val batch = snap(Dedup.minhashSigOf(docs))
      // batch drops shingle-less docs at the explode; row keeps them
      // with empty set — compare on the batch's domain, and check the
      // row-only extras are exactly the shingle-less ones
      for ((id, b) <- batch)
        assert(row(id) == b, s"seed=$seed doc=$id: ${row(id)} vs $b")
      val extras = row.keySet -- batch.keySet
      assert(extras.forall(id => row(id)._1.isEmpty),
        s"seed=$seed: non-empty row-sig docs missing from batch: $extras")
    }
  }
}
