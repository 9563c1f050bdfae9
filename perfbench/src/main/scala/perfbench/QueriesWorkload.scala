package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkEntry
import graft.sources.Tables

/** `queries_sf0.01`: a fixed, family-stratified set of `SparkEntry.queries`
  * over the sf0.01 tables, after an untimed warm-up pass, in a seeded order.
  * Each op is one query: build the frame, plan its fingerprint, run it.
  * The fingerprint is the query's action, so every result is checked
  * against its golden with no second execution. Pins are dropped between
  * queries, as `graft.Bench` does. */
final class QueriesWorkload(spark: SparkSession, a: Main.Args, trace: Trace,
    heap: Heap) {
  import QueriesWorkload._

  private[perfbench] val goldenPath = a.data.resolve("golden").resolve("queries_sf0.01.json")

  def run(): Main.Outcome = {
    val golden = Golden.read(goldenPath)
    val names = if (a.small) Seq("dd01_exact", "m03_resize", "q01_scan") else Subset
    val setups = (1 to 3).map(i => trace.span("setup") {
      Stats.timed(stage(a.work.resolve(s"inputs-$i")))._2 })
    val dir = a.work.resolve("inputs-3").toString
    // warm-up: JIT and whole-stage codegen, then the timed passes
    trace.span("queries.warmup") {
      names.foreach(q => runQuery(q, dir, golden, record = false))
    }
    heap.sample()
    var attempted, failed = 0L
    val perQuery = collection.mutable.Map[String, Vector[Double]]()
    val passes = collection.mutable.ArrayBuffer[Double]()
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    var pass = 0
    // at least two passes, so each query's time is a median; a traced run
    // measures exactly one pass, so its totals are per pass
    while (pass == 0 || (!trace.enabled && (pass < 2 || System.nanoTime() < deadline))) {
      val order = new scala.util.Random(a.seed * 1000003L + pass).shuffle(names)
      var sum = 0.0
      var passOk = true
      order.foreach { q =>
        attempted += 1
        runQuery(q, dir, golden, record = true) match {
          case Some(s) =>
            perQuery(q) = perQuery.getOrElse(q, Vector.empty) :+ s
            sum += s
          case None => failed += 1; passOk = false
        }
      }
      if (passOk) passes += sum
      pass += 1
    }
    trace.count("queries.passes", pass)
    Main.Outcome(attempted, failed,
      opMs = perQuery.values.map(v => Stats.median(v) * 1000).toSeq,
      workS = passes.toSeq, setupS = setups)
  }

  /** Copy the tables into a fresh directory and open each one (its parquet
    * footer is read to resolve the schema). */
  private[perfbench] def stage(to: Path): Unit = {
    Files.createDirectories(to)
    Tables.all.foreach { t =>
      val from = a.data.resolve("sf0.01").resolve(s"$t.parquet")
      Files.copy(from, to.resolve(s"$t.parquet"))
      Tables.t(spark, to.toString, t).schema
    }
  }

  /** One op; the time in seconds when it ran and matched its golden. */
  private[perfbench] def runQuery(q: String, dir: String, golden: Map[String, Fingerprint.Fp],
      record: Boolean): Option[Double] = {
    val fam = family(q)
    val t0 = System.nanoTime()
    val ok = try trace.span(s"queries.query:$fam") {
      val df = trace.span(s"queries.build:$fam") { SparkEntry.queries(q)(spark, dir) }
      val fp = Fingerprint.frame(df)
      trace.span(s"queries.plan:$fam") { fp.queryExecution.executedPlan }
      val got = trace.span(s"queries.exec:$fam") { Fingerprint.read(fp.collect().head) }
      val matches = golden.get(q).exists(_.matches(got))
      if (!matches)
        System.err.println(s"[perfbench] $q: fingerprint $got != golden ${golden.get(q)}")
      matches
    } catch { case e: Exception =>
      System.err.println(s"[perfbench] $q failed: $e"); false
    }
    val s = (System.nanoTime() - t0) / 1e9
    if (record) {
      val sc = spark.sparkContext
      trace.count("materialize.pins", sc.getPersistentRDDs.size)
      trace.sample("materialize.pinned_bytes",
        sc.getRDDStorageInfo.map(i => (i.memSize + i.diskSize).toDouble).sum)
    }
    dropPins(sampleHeap = record)
    if (ok) Some(s) else None
  }

  /** Free every pin; when measuring, also collect and sample the live heap,
    * so the next query starts from the same state. */
  private def dropPins(sampleHeap: Boolean): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    if (sampleHeap) heap.sample()
  }

  /** Run every query once and record its fingerprint and timing. */
  def recordGolden(): Unit = {
    stage(a.work.resolve("inputs-g"))
    val dir = a.work.resolve("inputs-g").toString
    val om = new ObjectMapper()
    val root = om.createObjectNode()
    val qs = root.putObject("queries")
    val times = om.createObjectNode()
    SparkEntry.queries.keys.toSeq.sorted.foreach { q =>
      try {
        val (df, tb) = Stats.timed(SparkEntry.queries(q)(spark, dir))
        val fp = Fingerprint.frame(df)
        val (got, te) = Stats.timed(Fingerprint.read(fp.collect().head))
        Golden.put(qs.putObject(q), got)
        times.put(q, f"build=$tb%.3f exec=$te%.3f schema=${df.schema.simpleString}")
        System.err.println(f"[golden] $q build=$tb%.3f exec=$te%.3f rows=${got.rows}")
      } catch { case e: Exception => System.err.println(s"[golden] $q failed: $e") }
      dropPins(sampleHeap = false)
    }
    root.put("data", "sf0.01")
    om.writerWithDefaultPrettyPrinter().writeValue(
      a.work.resolve("queries_sf0.01.json").toFile, root)
    om.writerWithDefaultPrettyPrinter().writeValue(
      a.work.resolve("calibration.json").toFile, times)
  }
}

object QueriesWorkload {
  val Name = "queries_sf0.01"

  /** The timed query set: every family, and the connected-components
    * loop (dd06) as the tail; small enough that a warm-up and two passes
    * fit one run. */
  val Subset: Seq[String] = Seq(
    "c04_decontaminate", "dd06_neardup_clusters", "m03_resize", "q08_diff",
    "sp04_pack_sequences", "ss05_label_centroids", "t05_bpe_tokens")

  /** Query family = the name's letter prefix (c dd m q sp ss t). */
  def family(q: String): String = q.takeWhile(_.isLetter)
}

/** Order-independent result fingerprint: row count, the sum of a 64-bit
  * hash over every exact (non-floating) value of a row, and for each
  * floating-point value path its sum and sum of magnitudes. Float sums are
  * compared with a tolerance scaled by the magnitude sum, so a different
  * summation order still matches. */
object Fingerprint {
  final case class Fp(rows: Long, hash: java.math.BigDecimal,
      floats: Seq[(Double, Double)]) {
    def matches(o: Fp): Boolean =
      rows == o.rows && hash.compareTo(o.hash) == 0 &&
        floats.size == o.floats.size &&
        floats.zip(o.floats).forall { case ((s1, a1), (s2, a2)) =>
          s1 == s2 || (s1.isNaN && s2.isNaN) ||
            math.abs(s1 - s2) <= 1e-6 * math.max(a1, a2) + 1e-9
        }
    override def toString: String =
      s"rows=$rows hash=$hash floats=${floats.map(_._1).mkString("[", ",", "]")}"
  }

  def frame(df: DataFrame): DataFrame = {
    val exact = collection.mutable.ArrayBuffer[Column]()
    val floats = collection.mutable.ArrayBuffer[Column]()
    def isFloat(t: DataType) = t == DoubleType || t == FloatType
    def hasFloat(t: DataType): Boolean = t match {
      case ArrayType(e, _) => hasFloat(e)
      case MapType(k, v, _) => hasFloat(k) || hasFloat(v)
      case StructType(fs) => fs.exists(f => hasFloat(f.dataType))
      case o => isFloat(o)
    }
    def split(c: Column, t: DataType): Unit = t match {
      case f if isFloat(f) =>
        exact += c.isNull
        floats += c.cast(DoubleType)
      case ArrayType(e, _) if isFloat(e) =>
        exact += size(c)
        floats += aggregate(c, lit(0.0),
          (acc, x) => acc + coalesce(x.cast(DoubleType), lit(0.0)))
      case StructType(fs) => fs.foreach(f => split(c.getField(f.name), f.dataType))
      case other if hasFloat(other) =>
        throw new IllegalArgumentException(s"fingerprint: unsupported type $other")
      case _ => exact += c
    }
    df.schema.fields.foreach(f =>
      split(col("`" + f.name.replace("`", "``") + "`"), f.dataType))
    val h = if (exact.isEmpty) lit(0L) else xxhash64(exact.toSeq: _*)
    df.agg(count(lit(1)), (sum(h.cast(DecimalType(38, 0))) +: floats.toSeq
      .flatMap(f => Seq(sum(f), sum(abs(f))))): _*)
  }

  def read(r: Row): Fp = Fp(r.getLong(0),
    Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO),
    (2 until r.length by 2).map(i => (dbl(r, i), dbl(r, i + 1))))

  private def dbl(r: Row, i: Int): Double = if (r.isNullAt(i)) 0.0 else r.getDouble(i)
}

/** Goldens: `{"queries": {name: {"rows", "hash", "floats": [[sum, abs]]}}}`. */
object Golden {
  import Fingerprint.Fp

  def read(p: Path): Map[String, Fp] = {
    val qs = new ObjectMapper().readTree(p.toFile).path("queries")
    qs.properties().asScala.map { e =>
      val n = e.getValue
      e.getKey -> Fp(n.path("rows").asLong(),
        new java.math.BigDecimal(n.path("hash").asText()),
        n.path("floats").elements().asScala.map(f =>
          (f.get(0).asText().toDouble, f.get(1).asText().toDouble)).toSeq)
    }.toMap
  }

  def put(n: ObjectNode, fp: Fp): Unit = {
    n.put("rows", fp.rows)
    n.put("hash", fp.hash.toPlainString)
    val fs = n.putArray("floats")
    fp.floats.foreach { case (s, ab) =>
      val pair = fs.addArray(); pair.add(s.toString); pair.add(ab.toString) }
  }
}
