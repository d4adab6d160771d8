package enginebench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The run's settings from `run.py`. Everything else a workload needs is a
  * constant of the workload (see `Harness` and `Workloads.scala`). */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      work: String, traceOut: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}") }.toMap
    def g(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(g("workload"), g("seed").toLong, g("seconds").toDouble, g("trace") == "1",
      g("work"), m.getOrElse("trace-out", ""))
  }
}

/** Entry point: one workload (or the gate self-test) in one JVM on
  * `local[cores]`. Human-readable lines go to stdout prefixed
  * `[enginebench]`; the last line is `ENGINEBENCH_RESULT <json>`. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${Harness.Cores}]")
      .appName("enginebench")
      // the session settings of the worker, with the shuffle width of the
      // repository's own Bench and Verify (one partition per core)
      .config("spark.sql.shuffle.partitions", Harness.Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // everything the run writes stays under its work directory
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark.sparkContext, args.trace)
    val report = new Report
    val sessionS = (System.nanoTime() - t0) / 1e9
    val code =
      try {
        if (args.workload == "selftest") SelfTest.run(spark, args, tracer, report)
        else {
          val h = args.workload match {
            case "trickle" => new Trickle(spark, args, tracer, report)
            case "backlog" => new Backlog(spark, args, tracer, report)
            case other => throw new IllegalArgumentException(s"unknown workload '$other'")
          }
          h.run(sessionS)
        }
        if (args.trace && args.traceOut.nonEmpty) {
          tracer.drain()
          Files.write(Paths.get(args.traceOut), tracer.toJson.getBytes("UTF-8"))
        }
        println("ENGINEBENCH_RESULT " + result(report))
        0
      } catch { case e: Throwable =>
        e.printStackTrace()
        2
      } finally spark.stop()
    System.exit(code)
  }

  private def result(r: Report): String = {
    def q(s: String) = "\"" + Json.esc(s) + "\""
    val metrics = r.metrics.map { case (k, (v, u)) =>
      s"${q(k)}:{\"value\":${Json.num(v)},\"unit\":${q(u)}}" }.mkString(",")
    val props = r.props.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString(",")
    s"""{"correct":${r.gateOk && r.failed == 0},"attempted":${r.attempted},"failed":${r.failed},""" +
      s""""metrics":{$metrics},"properties":{$props}}"""
  }
}

/** Shows that the correctness gate trips: on a small store (about the size
  * of the sf0.001 test data) the gate passes; then, each in a copy of the
  * store, one bucket of a derived view is overwritten with altered content,
  * and the view is dropped from the manifest. The gate must report exactly
  * that view both times. */
object SelfTest {
  def run(spark: SparkSession, args: Args, tracer: Tracer, report: Report): Unit = {
    val h = new Trickle(spark, args, tracer, report, customers = 150, orders = 1500)
    h.generate()
    h.stage(s"${args.work}/selftest")
    h.initStore(s"${args.work}/selftest/store")
    (1 to 3).foreach(_ => h.process(Seq.fill(20)(h.uniformChange())))
    val (_, clean) = h.gate(h.store, h.pipeline(h.version))
    report.note(s"self-test: gate on the engine's store: ${if (clean.isEmpty) "pass" else clean.mkString(",")}")
    val view = "customer_report"

    def copyStore(name: String): java.nio.file.Path = {
      val src = Paths.get(h.store.root)
      val copy = Paths.get(s"${args.work}/selftest/$name")
      val walk = Files.walk(src)
      try walk.iterator().forEachRemaining { p =>
        val t = copy.resolve(src.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
      } finally walk.close()
      copy
    }
    def check(what: String, copy: java.nio.file.Path): Boolean = {
      val (_, tripped) = h.gate(new graft.incr.BucketedStateStore(copy.toString), h.pipeline(h.version))
      report.note(s"self-test: gate on a copy with $what: " +
        (if (tripped.isEmpty) "PASSED (the gate missed the corruption)" else s"tripped on ${tripped.mkString(",")}"))
      tripped == Seq(view)
    }

    // one bucket of the view rewritten with altered balances
    val altered = copyStore("store_altered")
    val (bucket, rel) = new graft.incr.BucketedStateStore(altered.toString).bucketPaths(view).minBy(_._1)
    val dir = altered.resolve(rel)
    val rows = spark.read.parquet(dir.toString)
      .withColumn("acctbal", org.apache.spark.sql.functions.col("acctbal") + 0.25)
      .localCheckpoint()
    val tmp = s"${args.work}/selftest/altered"
    rows.coalesce(1).write.mode("overwrite").parquet(tmp)
    val ls = Files.list(dir)
    try ls.iterator().forEachRemaining(p => Files.delete(p)) finally ls.close()
    val ls2 = Files.list(Paths.get(tmp))
    try ls2.iterator().forEachRemaining { p =>
      if (p.getFileName.toString.endsWith(".parquet")) Files.copy(p, dir.resolve(p.getFileName))
    } finally ls2.close()
    val trippedAltered = check(s"bucket $bucket of $view altered", altered)

    // the whole view lost: its table and bucket lines removed from the manifest
    val lost = copyStore("store_lost")
    val manifest = lost.resolve("_manifest")
    val kept = Files.readAllLines(manifest).asScala.filterNot(l =>
      l.startsWith(s"table=$view|") || l.startsWith(s"bucket=$view|"))
    Files.write(manifest, kept.asJava)
    val trippedLost = check(s"$view removed from the manifest", lost)

    // the self-test succeeds when the clean store passes and each corrupted
    // copy fails on exactly the damaged view
    report.gateOk = clean.isEmpty && trippedAltered && trippedLost
    report.failed = if (report.gateOk) 0 else 1
  }
}
