package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import graft.{GraftSession, SparkEntry}
import graft.pipeline.Medallion
import graft.queries.StreamingQueries

/** One benchmark run in one JVM: set up, measure passes until the time
  * is up, and write every raw sample to a JSON file. `run.py` turns the
  * samples into metrics and checks the outputs against `expected.json`.
  *
  * One client, one operation in flight (a closed loop). Each catalog
  * operation is a query's DataFrame build plus a full materialization
  * through the `noop` sink; each medallion operation is one
  * `Medallion.run` call.
  *
  * Arguments (all `--key value`):
  *   workload  medallion | catalog
  *   seed      picks the held-out targets and the query order
  *   seconds   measured time; passes start until it has elapsed
  *   trace     1 registers the listeners and records spans
  *   fixture   directory of the generated fixture tables
  *   base, heldout            medallion: the fixture minus the held-out
  *                            targets, and the held-out rows
  *   reference 1 also digests a cold build of the full fixture
  *   work      scratch root for warehouses and staged inputs
  *   out       JSON file the samples are written to
  *   queries   comma-separated query names (catalog)
  *   warm      comma-separated warm subsystems to build in set-up
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt.get("trace").contains("1")
    val fixture = opt("fixture")
    val work = opt("work")
    val cpus = Runtime.getRuntime.availableProcessors()

    val heap = new HeapWatch
    val t0 = System.nanoTime()
    val spark = GraftSession.build(s"local[$cpus]", cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val recorder = new Recorder
    if (trace) recorder.register(spark)
    recorder.active = trace
    val spans = new Spans(spark.sparkContext, trace)
    val run = new Run(spark, spans, recorder, heap, seed, fixture, work)
    val result = try {
      opt("workload") match {
        case "medallion" =>
          run.medallion(seconds, run.Inputs(opt("fixture"), opt("base"),
            opt("heldout")), opt.get("reference").contains("1"))
        case "catalog" =>
          run.catalog(opt("queries").split(',').toSeq,
            opt.get("warm").toSeq.flatMap(_.split(',')).filter(_.nonEmpty), seconds)
        case other => sys.error(s"unknown workload $other")
      }
    } finally org.apache.spark.sql.PerfbenchAccess.drain(spark.sparkContext)
    val traceRecords =
      if (trace) recorder.records + ("spans" -> spans.records) else Map.empty
    val out = result ++ Map("session_s" -> sessionS,
      "peak_heap_mb" -> heap.peakMb, "trace" -> traceRecords)
    spark.stop()
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.write(Paths.get(opt("out")),
      mapper.writeValueAsString(out).getBytes(StandardCharsets.UTF_8))
  }
}

/** Heap still in use after a full collection, sampled at every
  * operation boundary (outside the timed region, which also starts each
  * operation on a collected heap); the run reports the peak. Also the
  * collection time spent outside those forced collections.
  */
final class HeapWatch {
  import java.lang.management.ManagementFactory

  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcTotal = gcs.map(_.getCollectionTime).sum / 1000.0
  private val gc0 = gcTotal
  private var forced = 0.0
  private var peak = 0L

  def sample(): Unit = {
    val g0 = gcTotal
    System.gc()
    forced += gcTotal - g0
    peak = math.max(peak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  def peakMb: Double = peak / (1024.0 * 1024.0)
  def gcSeconds: Double = gcTotal - gc0 - forced
}

final class Run(spark: SparkSession, spans: Spans, recorder: Recorder,
    heap: HeapWatch, seed: Long, fixture: String, work: String) {

  private val rng = new scala.util.Random(seed)
  private val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var attempted = 0L

  /** Run one operation; a non-fatal exception is recorded against it. */
  private def attempt[T](op: String)(body: => T): Option[T] = {
    attempted += 1
    guarded(op)(body)
  }

  /** A check of an operation's output: failures are recorded against the
    * operation, which was already counted as attempted.
    */
  private def guarded[T](op: String)(body: => T): Option[T] =
    try Some(body)
    catch {
      case NonFatal(e) =>
        failures += Map("op" -> op, "exception" -> e.getClass.getName,
          "message" -> String.valueOf(e.getMessage).take(300))
        None
    }

  private def secs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def summary(setup: Map[String, Any], passes: Seq[Map[String, Any]],
      extra: Map[String, Any]): Map[String, Any] =
    Map("setup" -> setup, "passes" -> passes, "attempted" -> attempted,
      "failures" -> failures.toSeq) ++ extra

  /** Passes until `seconds` have elapsed, at least one. A traced run
    * traces every second pass and makes at least three, so a traced pass
    * sits between two untraced ones that ran after the first: their
    * difference is the tracing overhead. An untraced run never traces.
    */
  private def passLoop(seconds: Double, traced: Boolean)(
      pass: Int => Map[String, Any]): Seq[Map[String, Any]] = {
    val out = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    var i = 0
    val minPasses = if (traced) 3 else 1
    while (i < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      val on = traced && i % 2 == 1
      recorder.active = on
      spans.enabled = on
      val (r, wall) = secs(spans(s"pass:$i")(pass(i)))
      // deliver this pass's events while the recorder still takes them
      if (on) org.apache.spark.sql.PerfbenchAccess.drain(spark.sparkContext)
      out += r ++ Map("pass" -> i, "wall_s" -> wall, "traced" -> on)
      System.err.println(f"[perfbench] pass $i%d: $wall%.2f s")
      i += 1
    }
    recorder.active = false
    spans.enabled = false
    out.toSeq
  }

  // ── medallion ──────────────────────────────────────────────────────

  private val silverTables =
    Seq("silver_fact", "silver_dim", "view_7a", "view_7b", "view_7b_nonull")

  /** One medallion input set, staged by run.py: the full fixture, the
    * same fixture minus a seed-chosen tenth of the label-0 targets, and
    * those held-out rows as one parquet file.
    */
  final case class Inputs(full: String, base: String, heldout: String)

  /** An iteration: a cold build of the base inputs, a re-run that has
    * nothing new to do, then the held-out rows arrive in bronze and a
    * delta run scores them. After the delta the warehouse must equal a
    * cold build of the full fixture. The first iteration is the first
    * time this JVM runs the DAG, as in a scheduled job's fresh JVM.
    */
  def medallion(seconds: Double, in: Inputs,
      reference: Boolean): Map[String, Any] = {
    val traced = recorder.active

    def phase(name: String, tag: String, fixture: String,
        warehouse: String): Map[String, Any] = {
      val gc0 = heap.gcSeconds
      val (rep, s) = secs(spans(s"op:$name")(attempt(s"$name:$tag")(
        Medallion.run(spark, fixture, warehouse))))
      val gc = heap.gcSeconds - gc0
      heap.sample()
      Map("seconds" -> s, "ok" -> rep.isDefined, "gc_s" -> gc) ++ rep.map(r => Map(
        "bronze_constructed" -> r.bronzeConstructed,
        "new_facts" -> r.newFacts, "new_dim_rows" -> r.newDimRows,
        "view_rows" -> r.viewRows)).getOrElse(Map.empty)
    }

    def iteration(tag: String, in: Inputs): Map[String, Any] = {
      val w = s"$work/warehouse_$tag"
      val cold = phase("cold", tag, in.base, w)
      val bytes = Files.walk(Paths.get(w)).iterator().asScala
        .filter(Files.isRegularFile(_)).map(Files.size(_)).sum
      val before = listing(w)
      val rerun = phase("rerun", tag, in.base, w)
      val unchanged = listing(w) == before
      // the held-out targets arrive in bronze
      Files.copy(Paths.get(in.heldout), Paths.get(s"$w/bronze_embeddings/heldout.parquet"))
      val delta = phase("delta", tag, in.full, w)
      val digest = digests(w)
      graft.Scratch.delete(w)
      Map("cold" -> cold, "rerun" -> (rerun + ("sinks_unchanged" -> unchanged)),
        "delta" -> delta, "delta_digest" -> digest, "warehouse_bytes" -> bytes)
    }

    val ref = if (!reference) Map.empty[String, Any] else {
      val w = s"$work/warehouse_reference"
      Medallion.run(spark, in.full, w)
      Map("reference_digest" -> digests(w))
    }
    summary(Map.empty, passLoop(seconds, traced)(i =>
      iteration(i.toString, in)), ref)
  }

  /** Files and sizes under the sinks a no-op re-run must leave alone. */
  private def listing(warehouse: String): Map[String, Long] =
    Seq("similarity_pairs", "silver_fact", "silver_dim").flatMap { t =>
      val root = Paths.get(warehouse, t)
      if (!Files.exists(root)) Nil
      else Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => root.getParent.relativize(p).toString -> Files.size(p)).toSeq
    }.toMap

  private def digests(warehouse: String): Map[String, Any] =
    silverTables.map { t =>
      t -> guarded(s"digest:$t")(Digest(spark.read.parquet(s"$warehouse/$t")))
        .getOrElse(Map("rows" -> -1L, "hash" -> "error"))
    }.toMap

  // ── catalog ────────────────────────────────────────────────────────

  /** The warm-state builders a workload may name, as `graft.Bench` calls
    * them before its timed loop.
    */
  private val warmBuilders: Map[String, () => Unit] = Map(
    "streaming" -> (() => StreamingQueries.warmStagingCaches(spark, fixture)))

  def catalog(names: Seq[String], warm: Seq[String], seconds: Double): Map[String, Any] = {
    val traced = recorder.active
    val registry = SparkEntry.queries
    val warmS = warm.map { w =>
      val (_, s) = secs(spans(s"setup:warm.$w")(attempt(s"warm:$w")(warmBuilders(w)())))
      w -> s
    }.toMap
    val setup = Map("warm_s" -> warmS,
      "warm_disk_hits" -> graft.WarmCache.diskHits)
    heap.sample()

    /** Build + materialize one query; `check` also digests its output. */
    def query(name: String, check: Boolean): Map[String, Any] = {
      val fn = registry.get(name)
      var buildS = 0.0
      var matS = 0.0
      var analysisMs = 0L
      var digest: Option[Map[String, Any]] = None
      val gc0 = heap.gcSeconds
      val ok = spans(s"op:$name") {
        attempt(name) {
          val (df, b) = secs(spans("build")(fn.getOrElse(
            throw new NoSuchElementException(s"no registered query $name"))(spark, fixture)))
          buildS = b
          if (spans.enabled) analysisMs = df.queryExecution.tracker.phases
            .get("analysis").map(_.durationMs).getOrElse(0L)
          matS = secs(spans("materialize")(
            df.write.format("noop").mode("overwrite").save()))._2
          if (check) digest = guarded(s"digest:$name")(Digest(df))
        }
      }.isDefined
      val gc = heap.gcSeconds - gc0
      // isolate operations: drop what this query cached or checkpointed
      spark.catalog.clearCache()
      graft.Caching.flush()
      heap.sample()
      Map("name" -> name, "build_s" -> buildS, "materialize_s" -> matS,
        "analysis_ms" -> analysisMs, "gc_s" -> gc, "ok" -> ok) ++
        digest.map("digest" -> _)
    }

    // the first pass is each query's first execution in the session; it
    // also checks every output, outside the timed region
    def pass(i: Int): Map[String, Any] =
      Map("queries" -> rng.shuffle(names).map(query(_, check = i == 0)))

    summary(setup, passLoop(seconds, traced)(pass), Map.empty)
  }
}

/** Row count and an order-independent hash over every column. */
object Digest {
  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  def apply(df: DataFrame): Map[String, Any] = {
    // positional names: an output may repeat a column name
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    // maps cannot be hashed directly; their JSON form is deterministic
    val cols = named.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name)
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val row = named.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .first()
    Map("rows" -> row.getLong(0),
      "hash" -> Option(row.getDecimal(1)).map(_.toString).getOrElse("0"))
  }
}
