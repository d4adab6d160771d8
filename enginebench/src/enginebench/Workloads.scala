package enginebench

import graft.core.{ExprReduce, MapFns, MapSpec, MrSchema, Pipeline, ReduceSpec}
import graft.incr.Change
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Sizes and rate of `trickle`. The mix (10% create, 10% delete, 20% no-op
  * update, 60% update, one update in five moving an order) and the rate are
  * assumptions, not measured traffic; see the README. */
object Trickle {
  /** sf0.1's customer and orders counts (15 000 and 150 000) divided by 7.5,
    * keeping its ten orders per customer. */
  val Customers = 2000
  val Orders = 20000
  /** Offered changes per second. */
  val Rate = 50.0
  /** Changes in the untimed warm-up batch. */
  val WarmUpChanges = 10
}

/** `trickle`: an open loop of notification-sized changes at a fixed rate.
  * A generator thread emits each change at its due time (after writing the
  * source row) into a queue; the driver loop drains the queue into
  * `BucketedStreamingEngine.processBatch`. A change's visible latency runs
  * from its due time to the return of the call that applied it. */
final class Trickle(spark: SparkSession, args: Args, tracer: Tracer, report: Report,
                    customers: Int = Trickle.Customers, orders: Int = Trickle.Orders)
    extends OrdersHarness(spark, args, tracer, report, customers, orders) {
  import Trickle._

  /** One untimed batch: the first batch after initialize compiles the batch
    * plans, so without it the window would mostly measure that cold batch. */
  def warmUp(): Unit = process(Seq.fill(WarmUpChanges)(uniformChange()))

  def measure(): Unit = {
    val n = math.max(1, (Rate * args.seconds).round.toInt)
    val q = new ConcurrentLinkedQueue[(Gen, Long)]
    val lags = new Array[Double](n)
    @volatile var done = false
    @volatile var failure: Throwable = null
    val t0 = System.nanoTime() + 10000000L
    val gen = new Thread(() => {
      try for (i <- 0 until n) {
        val due = t0 + (i * 1e9 / Rate).toLong
        var now = System.nanoTime()
        while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
        val g = uniformChange()
        lags(i) = (System.nanoTime() - due) / 1e9
        q.add((g, due))
      } catch { case e: Throwable => failure = e }
      finally done = true
    }, "enginebench-generator")
    gen.setDaemon(true)
    gen.start()
    val lat = mutable.ArrayBuffer.empty[Double]
    val waits = mutable.ArrayBuffer.empty[Double]
    var drainedNs = t0
    while (!(done && q.isEmpty)) {
      val batch = Iterator.continually(q.poll()).takeWhile(_ != null).toVector
      if (batch.isEmpty) LockSupport.parkNanos(200000L)
      else {
        val c = tracer.span("workload", "batch") { process(batch.map(_._1)) }
        drainedNs = c.endNs
        batch.foreach { case (_, due) =>
          lat += (c.endNs - due) / 1e9; waits += (c.startNs - due) / 1e9 }
      }
    }
    gen.join()
    if (failure != null) throw failure
    val lats = lat.toSeq
    val drainedS = (drainedNs - t0) / 1e9
    report.metric("visible_p50_s", Stats.median(lats), "s")
    report.metric("visible_p90_s", Stats.quantile(lats, Stats.tailQ(lats.size)), "s")
    // throughput the engine controls: the offered rate caps it, a slower
    // engine lengthens the drain after the last change is due
    report.metric("changes_per_s", n / drainedS, "1/s")
    report.note(f"rate $Rate%.0f/s: $n changes in ${calls.size} batches, drained after $drainedS%.2fs, " +
      f"visible p50 ${Stats.median(lats)}%.3fs p${Stats.tailQ(lats.size) * 100}%.1f " +
      f"${Stats.quantile(lats, Stats.tailQ(lats.size))}%.3fs, queue wait p50 ${Stats.median(waits.toSeq)}%.3fs, " +
      f"generator lag max ${lags.max}%.4fs; batches " + calls.map(c => f"${c.changes}:${c.seconds}%.2fs").mkString(" "))
    if (tracer.enabled) {
      report.metric("engine.queue_wait_s", Stats.median(waits.toSeq), "s")
      report.metric("engine.generator_lag_s", Stats.quantile(lags.toSeq, 0.99), "s")
    }
    recordProps("rate" -> f"$Rate%.0f", "zipf_exponent" -> "0")
  }
}

/** Sizes of `backlog`: the sizes follow from the backlog, which must exceed
  * `BucketedRun.MaxCollectedBatch` (100 000) to take the distributed path;
  * sf0.1's 600 000 line items would not fit the run's time budget. */
object Backlog {
  /** Live line items before the backlog. */
  val Lineitems = 105000
  /** Changes in the backlog batch. */
  val Size = 101000
  /** Parts, as many as sf0.1 has. */
  val Parts = 20000
}

/** `backlog`: line items with a `min` view (a delete forces a re-reduce).
  * The source switches to its next version and the whole difference is
  * applied as ONE batch above `BucketedRun.MaxCollectedBatch`, so the engine
  * takes the distributed path. Its changes are all due when the batch is
  * submitted. The measured phase is that one batch, however long it takes
  * against `--seconds`: visible p50 and p90 and the throughput all come
  * from this single sample. */
final class Backlog(spark: SparkSession, args: Args, tracer: Tracer, report: Report)
    extends Harness(spark, args, tracer, report) {
  import Backlog._
  import MrSchema._

  def pipeline(v: Int): Pipeline = Pipeline(
    maps = Seq(MapSpec("lineitem", "li_map", v, idCol = "li_id",
      fn = MapFns.item("l_partkey", Some("l_quantity"), idCol = "li_id"))),
    reduces = Seq(ReduceSpec("li_map", "li_min", v, ExprReduce(min))))

  private var tbl: SourceTable = _
  def tables: Map[String, SourceTable] = Map("lineitem" -> tbl)

  // versions of the source: v(0) before the backlog, v(1) after it
  private val rows = Array(mutable.ArrayBuffer.empty[Row], mutable.ArrayBuffer.empty[Row])
  private val mins = mutable.LongMap.empty[Double]
  // (li_id, kind, part) of every id in the backlog
  private val diff = mutable.ArrayBuffer.empty[(String, String, Long)]
  private var dir: String = _

  def generate(): Unit = {
    val g = new scala.util.Random(args.seed * 104729L + 3)
    val universe = (Lineitems * 1.1).toInt
    val inBacklog = g.shuffle((0 until universe).toVector).take(Size).toSet
    for (u <- 0 until universe) {
      val (ok, line) = (u / 4 + 1L, u % 4 + 1)
      val part = 1L + g.nextInt(Parts)
      val q1 = (1 + g.nextInt(200)) * 0.25
      val id = s"$ok-$line"
      val r1 = Rows.lineitem(ok, line, part, q1)
      if (!inBacklog.contains(u)) {
        if (u < Lineitems) { rows(0) += r1; rows(1) += r1 }
      } else {
        val x = g.nextDouble()
        if (x < 0.1) { rows(0) += r1; diff += ((id, "delete", part)) }
        else if (x < 0.2) { rows(1) += r1; diff += ((id, "create", part)) }
        else if (x < 0.4) { rows(0) += r1; rows(1) += r1; diff += ((id, "noop", part)) }
        else {
          val q2 = (1 + (q1 / 0.25 + 1 + g.nextInt(199)).toInt % 200) * 0.25
          rows(0) += r1; rows(1) += Rows.lineitem(ok, line, part, q2); diff += ((id, "update", part))
        }
      }
    }
    for (r <- rows(1)) {
      val p = r.getLong(3); val q = r.getDouble(4)
      if (mins.get(p).forall(q < _)) mins(p) = q
    }
  }

  def stage(d: String): Unit = {
    dir = d
    for (v <- 0 to 1) Rows.write(spark, rows(v).toSeq, Rows.LineitemSchema, s"$d/lineitem_v$v")
    tbl = new SourceTable(spark, "li_id", Rows.LineitemSchema, s"$d/lineitem_v0")
  }

  /** No warm-up: a backlog is typically the first batch a worker applies
    * after downtime, so its users pay the cold distributed path. */
  def warmUp(): Unit = ()

  def measure(): Unit = {
    import spark.implicits._
    val due = System.nanoTime()
    val gens = diff.toSeq.map { case (id, kind, part) =>
      Gen(Change(nextSeq(), kind match {
        case "create" => Change.Created
        case "delete" => Change.Deleted
        case _ => Change.Updated
      }, "lineitem", id), kind, Seq(part.toString))
    }
    val genS = (System.nanoTime() - due) / 1e9
    // the backlog arrives as a replayed stream: staged as parquet first
    val path = s"$dir/changes"
    spark.createDataset(gens.map(_.change)).write.mode("overwrite").parquet(path)
    tbl.rebase(s"$dir/lineitem_v1")
    val c = tracer.span("workload", "batch") { process(gens, Some(spark.read.parquet(path).as[Change])) }
    report.metric("visible_p50_s", c.seconds, "s")
    report.metric("visible_p90_s", c.seconds, "s")
    report.metric("changes_per_s", c.changes / c.seconds, "1/s")
    report.note(f"backlog batch: ${c.changes} changes in ${c.seconds}%.2fs")
    if (tracer.enabled) {
      report.metric("engine.queue_wait_s", (c.startNs - due) / 1e9, "s")
      report.metric("engine.generator_lag_s", genS, "s")
    }
    recordProps("zipf_exponent" -> "0", "lineitems" -> rows(1).size.toString)
  }

  def battery(n: Int): Seq[Search] = (0 until n).map { i =>
    val part = 1L + rnd.nextInt(Parts)
    if (i % 2 == 0)
      Search("exact", "li_min", s"/li_min/search/exact/$Key/$part/show/$Value",
        mins.get(part).toSeq.map(v => Seq[Any](part.toString, v)), ordered = false)
    else {
      val q = mins.getOrElse(part, 1.0)
      val want = mins.toSeq.filter(_._2 == q).map(_._1.toString).sorted.take(10).map(k => Seq[Any](k, q))
      Search("range_sort_limit", "li_min",
        s"/li_min/search/ge/$Value/${money(q)}/le/$Value/${money(q)}/sort/$Key/limit/10/show/$Value",
        want, ordered = true)
    }
  }
}
