package enginebench

import graft.core.{ExprReduce, JoinReduce, MapFns, MapSpec, MrSchema, Pipeline, ReduceSpec}
import graft.incr.{BucketedRun, BucketedStateStore, BucketedStreamingEngine, Change, IncrementalRun}
import graft.ops.QvarnUrl
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A generated change with what the generator knows about it: its kind
  * (`create`, `delete`, `update` or `noop` — an update notification whose
  * source row did not change) and the derived keys it can touch. */
final case class Gen(change: Change, kind: String, keys: Seq[String])

/** A Qvarn URL search over one materialized view, with the answer the
  * generator's model expects (rows as `Seq[Any]`; `ordered` = compare as a
  * sequence, else as a multiset). */
final case class Search(kind: String, view: String, url: String,
                        expected: Seq[Seq[Any]], ordered: Boolean)

/** One engine call as the benchmark saw it from outside. */
final case class Call(startNs: Long, endNs: Long, changes: Int, upserts: Map[String, Int],
                      touchedBuckets: Int, tablesStaged: Int, resync: Boolean,
                      bytesWritten: Long, filesWritten: Long, gcS: Double,
                      pendingAfter: Int, distinctKeys: Int, keyBuckets: Int,
                      noops: Int, deletes: Int) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Run-wide accumulators: metrics, input properties, operation counts. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val props = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  var failed = 0L
  var gateOk = true
  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def note(s: String): Unit = println(s"[enginebench] $s")
}

object Stats {
  /** Linear-interpolated quantile, `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** The tail quantile reported as p90: 0.9 when at least ten samples lie
    * beyond it, else the highest quantile that still has ten beyond it. */
  def tailQ(n: Int): Double = math.max(0.5, math.min(0.9, 1.0 - 10.0 / n))
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Harness {
  /** Task slots: `local[k]` with k = 4, or fewer on a smaller host. */
  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors)
  val Buckets = 8
  /** Set-ups per run (staging + initialize into fresh directories); the
    * median is reported. */
  val SetupReps = 2
  /** Version bumps, each followed by a full resync; the median is reported
    * (the first is the coldest). */
  val ResyncReps = 3
  /** Timed post-run searches, after four untimed ones. */
  val Searches = 8
}

/** Shared machinery of every workload: session, store, engine, calls into
  * the engine and store with their measurements, Qvarn searches, the
  * correctness gate and the post-run phase. */
abstract class Harness(val spark: SparkSession, val args: Args, val tracer: Tracer,
                       val report: Report) {
  import Harness._
  import MrSchema._

  val rnd = new scala.util.Random(args.seed)
  def pipeline(version: Int): Pipeline
  def tables: Map[String, SourceTable]
  val sources: IncrementalRun.Sources = name => tables(name).frame
  var version = 1
  var store: BucketedStateStore = _
  var engine: BucketedStreamingEngine = _
  val calls = mutable.ArrayBuffer.empty[Call]
  private var streamBatch = 0L
  private var seq = 0L
  def nextSeq(): Long = { seq += 1; seq }

  /** A decimal value as a URL search takes it. */
  def money(d: Double): String = java.math.BigDecimal.valueOf(d).toPlainString

  def bucketOfKey(key: String): Int = {
    val h = XxHash64Function.hash(UTF8String.fromString(key), StringType, 42L)
    (((h % store.numBuckets) + store.numBuckets) % store.numBuckets).toInt
  }

  private def manifest: Map[(String, Int), String] =
    store.tableNames.flatMap(t => store.bucketPaths(t).map { case (b, p) => (t, b) -> p }).toMap

  /** Every regular file under `root` with its size: the store's footprint
    * and, diffed around a call, the files it wrote. */
  def listing(root: String): Map[String, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }
  }

  /** Set up a fresh store at `root` over the current sources. */
  def initStore(root: String): Double = {
    store = new BucketedStateStore(root, numBuckets = Buckets)
    val t0 = System.nanoTime()
    tracer.span("run", "initialize") { BucketedRun.initialize(pipeline(version), sources, store) }
    val s = (System.nanoTime() - t0) / 1e9
    engine = new BucketedStreamingEngine(spark, pipeline(version), sources, store)
    s
  }

  /** One engine batch through the production `foreachBatch` entry point.
    * Returns the call; a batch that throws counts every change as failed. */
  def process(batch: Seq[Gen], ds: Option[org.apache.spark.sql.Dataset[Change]] = None): Call = {
    import spark.implicits._
    val before = manifest
    val committed0 = store.committedBatch.getOrElse(0L)
    val filesBefore = if (tracer.enabled) listing(store.root) else Map.empty[String, Long]
    val data = ds.getOrElse(spark.createDataset(batch.map(_.change)))
    val gc0 = if (tracer.enabled) tracer.gcSeconds else 0.0
    streamBatch += 1
    val t0 = System.nanoTime()
    val ok = try {
      tracer.span("engine", "processBatch") { engine.processBatch(data, streamBatch) }
      true
    } catch { case e: Exception =>
      e.printStackTrace()
      report.note(s"batch $streamBatch threw ${e.getClass.getSimpleName}: ${e.getMessage}"); false
    }
    val t1 = System.nanoTime()
    report.attempted += batch.size
    if (!ok) report.failed += batch.size
    val after = manifest
    val changed = after.filter { case (k, p) => !before.get(k).contains(p) }
    val filesAfter = if (tracer.enabled) listing(store.root) else Map.empty[String, Long]
    val fresh = filesAfter.filter { case (f, _) => !filesBefore.contains(f) }
    val newest = batch.groupBy(g => (g.change.resourceType, g.change.resourceId))
      .values.map(_.maxBy(_.change.seq)).toSeq
    val upserts = newest.filter(_.change.change != Change.Deleted)
      .groupBy(_.change.resourceType).view.mapValues(_.size).toMap
    val keys = batch.flatMap(_.keys).distinct
    val call = Call(t0, t1, batch.size, upserts, changed.size, changed.keys.map(_._1).toSet.size,
      // the engine's escalation: a failed backlog apply, then a full resync
      // and a ledger commit — every bucket replaced over two or more commits
      changed.size == before.size && store.committedBatch.getOrElse(0L) - committed0 >= 2,
      fresh.values.sum, fresh.size,
      if (tracer.enabled) tracer.gcSeconds - gc0 else 0.0, engine.pending.size,
      keys.size, keys.map(bucketOfKey).distinct.size,
      batch.count(_.kind == "noop"), batch.count(_.kind == "delete"))
    calls += call
    call
  }

  // ---- searches -----------------------------------------------------------

  final case class SearchRun(seconds: Double, ok: Boolean, buildS: Double, analysisS: Double,
                             optimizationS: Double, planningS: Double, execS: Double,
                             openS: Double, readBucketsS: Double, filesRead: Long,
                             rowsScanned: Long, rowsReturned: Int)
  val searches = mutable.ArrayBuffer.empty[SearchRun]

  private object PlanHelper extends AdaptiveSparkPlanHelper

  private def norm(v: Any): Any = v match {
    case d: Double => BigDecimal(d)
    case l: Long => l.toString
    case i: Int => i.toString
    case x => x
  }

  /** Resolve the view afresh (the vacuum-grace contract: a frame is re-read
    * per search), run the URL search and check it against the model. Traced,
    * the query's phases are forced one at a time so each is timed: parse,
    * analysis (building the frame), optimization, physical planning, then
    * execution. */
  def search(s: Search): SearchRun = {
    val t = Array.fill(7)(0L)
    var df: DataFrame = null
    val rows = tracer.span("search", s.kind) {
      t(0) = System.nanoTime()
      val view = tracer.span("store", "table") { store.table(spark, s.view) }
      t(1) = System.nanoTime()
      val q = tracer.span("search", "parse") { QvarnUrl.parse(view, s.url, Key) }
      t(2) = System.nanoTime()
      df = tracer.span("search", "analysis") { q.result() }
      t(3) = System.nanoTime()
      if (tracer.enabled) {
        tracer.span("search", "optimization") { df.queryExecution.optimizedPlan }
        t(4) = System.nanoTime()
        tracer.span("search", "planning") { df.queryExecution.executedPlan }
      } else t(4) = t(3)
      t(5) = System.nanoTime()
      val r = try tracer.span("search", "exec") { df.collect().toSeq.map(_.toSeq) }
        catch { case e: Exception =>
          report.note(s"search ${s.url} threw ${e.getClass.getSimpleName}: ${e.getMessage}"); null }
      t(6) = System.nanoTime()
      r
    }
    def d(i: Int) = (t(i + 1) - t(i)) / 1e9
    val ok = rows != null && {
      val got = rows.map(_.map(norm))
      val want = s.expected.map(_.map(norm))
      if (s.ordered) got == want
      else got.groupBy(identity).view.mapValues(_.size).toMap ==
        want.groupBy(identity).view.mapValues(_.size).toMap
    }
    report.attempted += 1
    if (!ok) {
      report.failed += 1
      report.note(s"search mismatch: ${s.url} expected ${s.expected.take(5)} got ${Option(rows).map(_.take(5))}")
    }
    val (files, scanned, rbS) =
      if (!tracer.enabled || rows == null) (0L, 0L, 0.0)
      else {
        val scans = PlanHelper.collect(df.queryExecution.executedPlan) { case f: FileSourceScanExec => f }
        def metric(n: String) = scans.map(_.metrics.get(n).map(_.value).getOrElse(0L)).sum
        // the store's point-read entry point for the same view: resolve the
        // frame of the single bucket an exact-key search would need
        val a = System.nanoTime()
        store.readBuckets(spark, s.view, Seq(0))
        (metric("numFiles"), metric("numOutputRows"), (System.nanoTime() - a) / 1e9)
      }
    val run = SearchRun((t(6) - t(0)) / 1e9, ok, d(1), d(2), d(3), d(4), d(5), d(0), rbS,
      files, scanned, Option(rows).map(_.size).getOrElse(0))
    searches += run
    run
  }

  // ---- gate ---------------------------------------------------------------

  /** Order-independent content fingerprint rows of `df`: row count and two
    * keyed hash sums over all columns but the timestamp, tagged `tag`. */
  private def fingerprint(tag: String, df: DataFrame): DataFrame = {
    val cols = df.columns.filterNot(_ == Timestamp).sorted.toSeq.map(col)
    df.select(lit(tag).as("t"), xxhash64(struct(cols: _*)).cast("decimal(38,0)").as("h1"),
      xxhash64(lit("g2"), struct(cols: _*)).cast("decimal(38,0)").as("h2"))
  }

  /** Compare every derived table of the pipeline (map targets, their
    * `_idx_*` indexes, reduce targets) with [[IncrementalRun.recompute]] over
    * the current sources, in one Spark job. A table the store lacks while the
    * recompute has rows for it, and a store table the pipeline cannot
    * derive, are mismatches too. Returns (live derived rows in the store,
    * mismatching tables). */
  def gate(st: BucketedStateStore, p: Pipeline): (Long, Seq[String]) = {
    val truth = IncrementalRun.recompute(p, sources)
    val expected: Map[String, DataFrame] = truth.tables ++ p.mapTargets.map(t =>
      BucketedRun.indexName(t) -> truth(t).select(col(SourceType), col(SourceId), col(Key)).distinct())
    val stored = st.tableNames.toSet
    val unknown = st.tableNames.filterNot(expected.contains)
    unknown.foreach(t => report.note(s"gate: table $t is not derivable from the pipeline"))
    val names = expected.keys.toSeq.sorted
    val sides = names.flatMap(t => fingerprint(s"truth/$t", expected(t)) +:
      (if (stored(t)) Seq(fingerprint(s"store/$t", st.table(spark, t))) else Nil))
    val fp = sides.reduce(_.unionByName(_)).groupBy(col("t"))
      .agg(count(lit(1)), sum(col("h1")), sum(col("h2"))).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.get(2), r.get(3))).toMap
    // an empty table has no fingerprint row: absent and empty compare equal
    val bad = unknown ++ names.filter { t =>
      val same = fp.get(s"store/$t") == fp.get(s"truth/$t")
      if (!same && !stored(t))
        report.note(s"gate: table $t is missing from the store (${fp(s"truth/$t")._1} rows expected)")
      else if (!same) {
        val g = st.table(spark, t).drop(Timestamp); val w = expected(t).drop(Timestamp)
        val cols = w.columns.sorted.toSeq.map(col)
        report.note(s"gate: table $t differs: ${g.select(cols: _*).exceptAll(w.select(cols: _*)).count()} " +
          s"extra, ${w.select(cols: _*).exceptAll(g.select(cols: _*)).count()} missing rows")
      }
      !same
    }
    report.attempted += unknown.size + names.size
    report.failed += bad.size
    if (bad.nonEmpty) report.gateOk = false
    (names.flatMap(t => fp.get(s"store/$t")).map(_._1).sum, bad)
  }

  // ---- workload hooks -----------------------------------------------------

  /** Generate and stage the inputs once (called before the timed set-ups). */
  def generate(): Unit
  /** Write the sources under `dir` and point the source tables at them. */
  def stage(dir: String): Unit
  /** Untimed-by-the-workload warm-up batches (counted in set-up). */
  def warmUp(): Unit
  /** The measured phase. */
  def measure(): Unit
  /** The post-run searches, each checked against the generator's model:
    * view-serving latency over the store the workload left behind. */
  def battery(n: Int): Seq[Search]

  // ---- driver -------------------------------------------------------------

  def run(sessionStartS: Double): Unit = {
    val gen0 = System.nanoTime()
    generate()
    val genS = (System.nanoTime() - gen0) / 1e9
    // set up several times, each into fresh directories, and keep the last:
    // the median of staging + initialize is the steady part of set-up
    val reps = (1 to SetupReps).map { i =>
      val dir = s"${args.work}/setup$i"
      val t0 = System.nanoTime()
      val initS = tracer.span("workload", s"setup$i") { stage(dir); initStore(s"$dir/store") }
      val s = (System.nanoTime() - t0) / 1e9
      report.note(f"setup $i: stage ${s - initS}%.2fs + initialize $initS%.2fs")
      s
    }
    val initS = tracer.spansOf("run").filter(_.name == "initialize").map(_.seconds)
    val w0 = System.nanoTime()
    tracer.span("workload", "warmup") { warmUp() }
    val warmS = (System.nanoTime() - w0) / 1e9
    // the warm-up's operations still count as attempted (and failed, if
    // they fail); its batches are left out of the per-batch figures
    calls.clear()
    val setupS = sessionStartS + genS + Stats.median(reps) + warmS
    report.note(f"setup: session $sessionStartS%.2fs, generate $genS%.2fs, stage+initialize " +
      reps.map(r => f"$r%.2f").mkString("/") + f"s (median used), warm-up $warmS%.2fs")
    report.metric("setup_s", setupS, "s")

    tracer.span("workload", args.workload) { measure() }
    post(initS)
  }

  private def post(initS: Seq[Double]): Unit = {
    // anything the engine could not apply is a failed operation
    val dead = engine.deadLetters.size + engine.pending.size
    report.failed += dead
    if (dead > 0) report.note(s"engine ended with $dead dead-lettered or pending changes")

    // the committed state only: superseded directories wait for the vacuum
    // cadence and the snapshot window, so their count follows batch timing
    val bytes = store.tableNames.flatMap(t => store.bucketPaths(t).values).distinct
      .map(rel => listing(s"${store.root}/$rel").values.sum).sum
    val g0 = System.nanoTime()
    val (rows, _) = tracer.span("workload", "gate") { gate(store, pipeline(version)) }
    report.note(f"gate: ${(System.nanoTime() - g0) / 1e9}%.2fs")
    report.metric("store_bytes_per_row", bytes.toDouble / math.max(1L, rows), "B/row")

    // the first searches plan and compile the search code paths: run a few
    // untimed so the figure is view-serving latency, not JIT
    battery(4).foreach(search)
    searches.clear()
    // search latency is printed, not a gated metric: on a shared 4-vCPU
    // host it did not stay within a 0.25 run-to-run spread
    val bat = battery(Searches)
    tracer.span("workload", "searches") { bat.foreach(search) }
    val ss = searches.map(_.seconds).toSeq
    report.note(f"searches: ${ss.size}, p50 ${Stats.median(ss)}%.4fs, max ${ss.max}%.4fs")

    val v0 = System.nanoTime()
    tracer.span("store", "vacuum") { store.vacuum() }
    val vacuumS = (System.nanoTime() - v0) / 1e9

    // bump every handler version and rebuild the views from the sources
    val resyncs = (1 to ResyncReps).map { _ =>
      version += 1
      val t0 = System.nanoTime()
      tracer.span("run", "resyncFull") {
        BucketedRun.resyncFull(pipeline(version), sources, store, store.committedBatch.getOrElse(0L) + 1)
      }
      (System.nanoTime() - t0) / 1e9
    }
    report.metric("resync_s", Stats.median(resyncs), "s")
    report.note("resync: " + resyncs.map(r => f"$r%.2f").mkString("/") + "s (median used)")

    if (tracer.enabled) layerMetrics(initS, vacuumS)
  }

  /** Per-layer metrics of the traced run: Spark work per engine call, the
    * engine's and store's per-batch figures, and the search layers. */
  private def layerMetrics(initS: Seq[Double], vacuumS: Double): Unit = {
    tracer.drain()
    val r = report
    // the measured calls are the last ones: warm-up batches come before them
    val engineSpans = tracer.spansOf("engine").takeRight(calls.size)
    val js = engineSpans.map(tracer.jobStats)
    def per(f: JobStats => Double) = Stats.mean(js.map(f))
    val k = Cores
    r.metric("spark.jobs_per_batch", per(_.jobs), "count")
    r.metric("spark.stages_per_batch", per(_.stages), "count")
    r.metric("spark.tasks_per_batch", per(_.tasks), "count")
    r.metric("spark.driver_gap_s", per(_.gapS), "s")
    r.metric("spark.task_cpu_s", per(_.taskCpuS), "s")
    r.metric("spark.gc_s", Stats.mean(calls.map(_.gcS).toSeq), "s")
    r.metric("spark.shuffle_read_bytes", per(_.shuffleReadB.toDouble), "B")
    r.metric("spark.shuffle_write_bytes", per(_.shuffleWriteB.toDouble), "B")
    r.metric("spark.input_records", per(_.inputRecords.toDouble), "count")
    r.metric("spark.output_bytes", per(_.outputB.toDouble), "B")
    r.metric("spark.spill_bytes", per(_.spillB.toDouble), "B")
    r.metric("spark.slots_busy_frac",
      js.map(_.taskRunS).sum / math.max(1e-9, k * engineSpans.map(_.seconds).sum), "frac")

    val cs = calls.toSeq
    val process = cs.map(_.seconds)
    // the engine's own bounded collect of the batch is the call's first job
    r.metric("run.apply_s", Stats.median(cs.indices.map(i => process(i) - js(i).firstJobS)), "s")
    r.metric("run.changes_per_batch", Stats.mean(cs.map(_.changes.toDouble)), "count")
    r.metric("run.touched_buckets_per_batch", Stats.mean(cs.map(_.touchedBuckets.toDouble)), "count")
    r.metric("run.tables_staged_per_batch", Stats.mean(cs.map(_.tablesStaged.toDouble)), "count")
    r.metric("run.resync_batches", cs.count(_.resync).toDouble, "count")
    r.metric("run.initialize_s", Stats.median(initS), "s")
    r.metric("engine.process_s", Stats.median(process), "s")
    r.metric("engine.batch_size", Stats.mean(cs.map(_.changes.toDouble)), "count")
    r.metric("engine.pending", cs.map(_.pendingAfter).maxOption.getOrElse(0).toDouble, "count")
    r.metric("engine.dead_letters", engine.deadLetters.size.toDouble, "count")
    r.metric("store.bytes_written_per_batch", Stats.mean(cs.map(_.bytesWritten.toDouble)), "B")
    r.metric("store.files_written_per_batch", Stats.mean(cs.map(_.filesWritten.toDouble)), "count")
    r.metric("store.vacuum_s", vacuumS, "s")
    val ss = searches.toSeq
    r.metric("store.table_open_s", Stats.median(ss.map(_.openS)), "s")
    r.metric("store.read_buckets_s", Stats.median(ss.map(_.readBucketsS)), "s")
    r.metric("search.build_s", Stats.median(ss.map(_.buildS)), "s")
    r.metric("search.analysis_s", Stats.median(ss.map(_.analysisS)), "s")
    r.metric("search.optimization_s", Stats.median(ss.map(_.optimizationS)), "s")
    r.metric("search.planning_s", Stats.median(ss.map(_.planningS)), "s")
    r.metric("search.exec_s", Stats.median(ss.map(_.execS)), "s")
    r.metric("search.files_read", Stats.mean(ss.map(_.filesRead.toDouble)), "count")
    r.metric("search.rows_scanned_per_row_returned",
      ss.map(_.rowsScanned).sum.toDouble / math.max(1, ss.map(_.rowsReturned).sum), "ratio")
  }

  /** Input properties of the measured batches (recorded on every run). */
  def recordProps(extra: (String, String)*): Unit = {
    val cs = calls.toSeq
    val n = math.max(1, cs.size)
    val changes = math.max(1, cs.map(_.changes).sum)
    def share(p: Call => Boolean) = f"${cs.count(p).toDouble / n}%.4f"
    report.props("batches") = cs.size.toString
    report.props("share_batches_over_1000_upserts") = share(_.upserts.values.exists(_ > 1000))
    report.props("share_batches_over_max_collected") = share(_.changes > BucketedRun.MaxCollectedBatch)
    report.props("share_noop_updates") = f"${cs.map(_.noops).sum.toDouble / changes}%.4f"
    report.props("share_deletes") = f"${cs.map(_.deletes).sum.toDouble / changes}%.4f"
    report.props("distinct_keys_per_batch") = f"${Stats.mean(cs.map(_.distinctKeys.toDouble))}%.1f"
    report.props("key_buckets_per_batch") = f"${Stats.mean(cs.map(_.keyBuckets.toDouble))}%.1f"
    extra.foreach { case (k, v) => report.props(k) = v }
  }
}

/** Order and customer sources with the two-source join view: both feed
  * one map target keyed by customer, and a JoinReduce merges the customer's
  * fields with those of its newest order into `customer_report`. */
abstract class OrdersHarness(spark: SparkSession, args: Args, tracer: Tracer, report: Report,
                             customers: Int, orders: Int)
    extends Harness(spark, args, tracer, report) {
  import MrSchema._

  def pipeline(v: Int): Pipeline = Pipeline(
    maps = Seq(
      MapSpec("customer", "co_map", v, idCol = "c_custkey",
        fn = df => df.select(col("c_custkey").as(Key), col("c_name"), col("c_acctbal"), col("c_custkey"))),
      MapSpec("orders", "co_map", v, idCol = "o_orderkey",
        fn = df => df.select(col("o_custkey").as(Key), col("o_totalprice"), col("o_orderkey")))),
    reduces = Seq(
      ReduceSpec("co_map", "customer_report", v, JoinReduce(
        mapping = Map(
          "customer" -> Map("c_name" -> "customer_name", "c_acctbal" -> "acctbal"),
          "orders" -> Map("o_totalprice" -> "last_totalprice")),
        orderBy = SourceId))))

  val model = new OrdersModel
  private var tbls: Map[String, SourceTable] = Map.empty
  def tables: Map[String, SourceTable] = tbls
  private var custRows: Seq[Row] = Nil
  private var orderRows: Seq[Row] = Nil
  private var nextOrderKey = 0L
  private var nextCustKey = 0L
  private val absentCust = new IdPool

  def generate(): Unit = {
    val g = new scala.util.Random(args.seed * 7919L + 1)
    custRows = (1L to customers).map(k => Rows.customer(g, k))
    orderRows = (1L to orders).map(k => Rows.order(g, k, 1L + g.nextInt(customers)))
    custRows.foreach(model.putCustomer)
    orderRows.foreach(model.putOrder)
    nextOrderKey = orders + 1L
    nextCustKey = customers + 1L
  }

  def stage(dir: String): Unit = {
    Rows.write(spark, custRows, Rows.CustomerSchema, s"$dir/customer")
    Rows.write(spark, orderRows, Rows.OrderSchema, s"$dir/orders")
    tbls = Map(
      "customer" -> new SourceTable(spark, "c_custkey", Rows.CustomerSchema, s"$dir/customer"),
      "orders" -> new SourceTable(spark, "o_orderkey", Rows.OrderSchema, s"$dir/orders"))
  }

  private def ch(kind: String, table: String, id: Long, keys: Long*): Gen = Gen(
    Change(nextSeq(), kind match {
      case "create" => Change.Created
      case "delete" => Change.Deleted
      case _ => Change.Updated
    }, table, id.toString), kind, keys.map(_.toString))

  /** Apply one change of `kind` to order `id` (or a new order of `cust`). */
  def orderChange(kind: String, id: Long, cust: Long): Gen = kind match {
    case "create" =>
      val k = nextOrderKey; nextOrderKey += 1
      val r = Rows.order(rnd, k, cust)
      tbls("orders").upsert(r); model.putOrder(r)
      ch("create", "orders", k, cust)
    case "delete" =>
      val old = model.orders(id).cust
      tbls("orders").delete(id); model.dropOrder(id)
      ch("delete", "orders", id, old)
    case "noop" => ch("noop", "orders", id, model.orders(id).cust)
    case _ =>
      val old = model.orders(id).cust
      // one update in five moves the order to another customer
      val to = if (rnd.nextInt(5) == 0) cust else old
      val r = Rows.order(rnd, id, to)
      tbls("orders").upsert(r); model.putOrder(r)
      ch("update", "orders", id, old, to)
  }

  /** Apply one change of `kind` to customer `id`; a create re-creates `id`
    * when it is given and absent, else a deleted or a new customer. */
  def customerChange(kind: String, id: Long): Gen = kind match {
    case "create" =>
      val k = if (id > 0 && !model.custPool.contains(id)) id
        else if (absentCust.size > 0) absentCust.pick(rnd) else { nextCustKey += 1; nextCustKey - 1 }
      absentCust.remove(k)
      val r = Rows.customer(rnd, k)
      tbls("customer").upsert(r); model.putCustomer(r)
      ch("create", "customer", k, k)
    case "delete" =>
      tbls("customer").delete(id); model.dropCustomer(id); absentCust.add(id)
      ch("delete", "customer", id, id)
    case "noop" => ch("noop", "customer", id, id)
    case _ =>
      val r = Rows.customer(rnd, id)
      tbls("customer").upsert(r); model.putCustomer(r)
      ch("update", "customer", id, id)
  }

  /** Change kind by the workload's mix: 10% create, 10% delete, 20% no-op
    * update, 60% update. */
  def kind(): String = {
    val u = rnd.nextDouble()
    if (u < 0.1) "create" else if (u < 0.2) "delete" else if (u < 0.4) "noop" else "update"
  }

  /** A change with ids uniform over orders or customers (half each). */
  def uniformChange(): Gen = {
    val k = kind()
    if (rnd.nextBoolean()) {
      if (k != "create" && model.orderPool.size == 0) orderChange("create", 0L, 1L + rnd.nextInt(customers))
      else orderChange(k, if (k == "create") 0L else model.orderPool.pick(rnd), 1L + rnd.nextInt(customers))
    } else {
      if (k != "create" && model.custPool.size == 0) customerChange("create", 0L)
      else customerChange(k, if (k == "create") 0L else model.custPool.pick(rnd))
    }
  }

  /** One search of kind `i % 4` around customer key `cust`: exact key,
    * range on a value, sort + limit, and show of several fields. */
  def searchFor(i: Int, cust: Long): Search = (i % 4) match {
    case 0 =>
      Search("exact", "customer_report", s"/customer_report/search/exact/$Key/$cust/show/customer_name",
        model.report(cust).map(r => Seq[Any](cust.toString, r._1.orNull)).toSeq, ordered = false)
    case 1 =>
      val center = model.report(cust).flatMap(_._3).getOrElse(250000.0)
      val lo = math.floor(center / 1000) * 1000 - 1000; val hi = lo + 3000
      val want = model.reportKeys.flatMap(k => model.report(k).collect {
        case (_, _, Some(last)) if last >= lo && last <= hi => Seq[Any](k.toString, last)
      }).toSeq
      Search("range", "customer_report",
        s"/customer_report/search/ge/last_totalprice/${money(lo)}/le/last_totalprice/${money(hi)}" +
          "/show/last_totalprice", want, ordered = false)
    case 2 =>
      val from = model.customers.get(cust).map(_.acctbal).getOrElse(0.0)
      val want = model.reportKeys.flatMap(k => model.report(k).collect {
        case (name, Some(bal), _) if bal >= from => (bal, k.toString, name.orNull)
      }).toSeq.sortBy(t => (t._1, t._2)).take(10).map { case (b, k, n) => Seq[Any](k, n, b) }
      Search("sort_limit", "customer_report",
        s"/customer_report/search/ge/acctbal/${money(from)}/sort/acctbal/sort/$Key/limit/10" +
          "/show/customer_name/show/acctbal", want, ordered = true)
    case _ =>
      val want = model.report(cust).map { case (n, b, l) =>
        Seq[Any](cust.toString, n.orNull, b.getOrElse(null), l.getOrElse(null)) }.toSeq
      Search("show", "customer_report",
        s"/customer_report/search/exact/$Key/$cust/show/customer_name/show/acctbal/show/last_totalprice",
        want, ordered = false)
  }

  def battery(n: Int): Seq[Search] =
    (0 until n).map(i => searchFor(i, 1L + rnd.nextInt(customers)))
}
