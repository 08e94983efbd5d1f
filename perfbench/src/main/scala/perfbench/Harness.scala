package perfbench

import java.lang.management.ManagementFactory
import java.io.IOException
import java.nio.file.{FileVisitResult, Files, Path, Paths, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.{Try, Using}
import com.fasterxml.jackson.databind.PropertyNamingStrategies
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** One benchmark run in a fresh driver JVM.
  *
  * Closed loop, one client: one query at a time on this thread. The run
  * sets up (session, one untimed pass that writes every query's full output
  * as parquet for the oracle check, one more untimed pass), then starts
  * timed passes until `--seconds` have elapsed (at least one).
  *
  * It writes one raw record (`run.json` in `--out`); `run.py` turns it into
  * metrics. With `--trace 1` passes alternate untraced / traced (at least
  * three, an odd number), and the traced ones carry the listener spans of
  * [[Trace]].
  *
  * Arguments (all required):
  *   --data DIR       table directory (`<table>.parquet`)
  *   --plan FILE      one pass per line, comma-separated query names; line 1
  *                    is the order of the two warm passes
  *   --out DIR        where `run.json` and `check/<query>` go
  *   --seconds S      timed window
  *   --trace 0|1      alternate untraced and traced passes
  *   --example 0|1    also time the first 500 rows of each query
  *   --cpus N         `local[N]`
  */
object Harness {
  /** Local property naming the operation a job belongs to. */
  val TagKey = "perfbench.op"

  final case class Op(pass: Int, query: String, mode: String, start: Double,
    built: Option[Double], end: Double, error: Option[String], rows: Long,
    cols: Seq[String])

  final case class Pass(index: Int, traced: Boolean, start: Double,
    fullEnd: Double, end: Double, cpuS: Double, jitS: Double, gcS: Double)

  /** The run record, written as `run.json` with snake_case field names;
    * `oracle` maps each query to its DuckDB SQL (null when it has none). */
  final case class Run(cpus: Int, setupEnd: Double, timedEnd: Double,
    peakRssMb: Double, tmpLeftB: Double, tmpEntriesLeft: Int,
    passes: Seq[Pass], ops: Seq[Op],
    oracle: Map[String, Option[String]], checkErrors: Map[String, String],
    trace: Trace.Record)

  private val mapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .propertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE)
    .build()

  private val clock0Nanos = System.nanoTime()
  private val clock0Epoch = System.currentTimeMillis() / 1e3
  /** Epoch seconds with nanoTime resolution, comparable with listener
    * event times (epoch ms). */
  def now(): Double = clock0Epoch + (System.nanoTime() - clock0Nanos) / 1e9

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuSeconds(): Double = osBean.getProcessCpuTime / 1e9
  private def jitSeconds(): Double =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(-1.0)

  /** Bytes and top-level entries in /tmp, counting java.io.tmpdir
    * (`/tmp/jvm`) as a directory of entries of its own. Files that vanish
    * while it walks (Spark's and Postgres's scratch files) are skipped. */
  private def tmpUsage(): (Double, Int) = {
    val tmp = Paths.get("/tmp")
    var bytes = 0L
    Files.walkFileTree(tmp, new SimpleFileVisitor[Path] {
      override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult = {
        if (a.isRegularFile) bytes += a.size
        FileVisitResult.CONTINUE
      }
      override def visitFileFailed(f: Path, e: IOException): FileVisitResult =
        FileVisitResult.CONTINUE
    })
    def list(d: String) = Using.resource(Files.list(tmp.resolve(d)))(
      _.iterator.asScala.map(_.getFileName.toString).toSeq)
    val entries = list(".").filter(_ != "jvm") ++ Try(list("jvm")).getOrElse(Nil)
    (bytes.toDouble, entries.size)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    val dir = opt("data")
    val out = Paths.get(opt("out"))
    val plan = Files.readAllLines(Paths.get(opt("plan"))).asScala
      .map(_.trim).filter(_.nonEmpty).map(_.split(",").toVector).toVector
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val example = opt("example") == "1"
    val cpus = opt("cpus").toInt

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // the session confs of graft.Bench
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.timestampType", "TIMESTAMP_NTZ")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // the check pass writes parquet the oracle compare reads (graft.Verify)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // the run has a private loopback-only network
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val queries = SparkEntry.queries
    val trace = new Trace(spark)

    val ops = ArrayBuffer.empty[Op]
    val passes = ArrayBuffer.empty[Pass]

    def runOp(pass: Int, q: String, mode: String): Op = {
      val fn = queries(q)
      var built = Option.empty[Double]
      var rows = -1L
      var cols = Seq.empty[String]
      val start = now()
      val error =
        try {
          sc.setLocalProperty(TagKey, s"$pass/$q/$mode/build")
          val df = fn(spark, dir)
          built = Some(now())
          sc.setLocalProperty(TagKey, s"$pass/$q/$mode/action")
          mode match {
            case "full" => df.write.mode("overwrite").format("noop").save()
            case "output" => df.coalesce(1).write.mode("overwrite")
              .parquet(out.resolve("check").resolve(q).toString)
            case "example" =>
              rows = df.limit(500).collect().length.toLong
              cols = df.columns.toSeq
          }
          None
        } catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] $q ($mode, pass $pass) failed: $e")
            Some(s"${e.getClass.getName}: ${e.getMessage}".take(500))
        } finally sc.setLocalProperty(TagKey, null)
      val op = Op(pass, q, mode, start, built, now(), error, rows, cols)
      System.err.println(f"[perfbench] pass $pass $q $mode ${op.end - op.start}%.3f s")
      op
    }

    def runPass(index: Int, order: Seq[String], traceIt: Boolean): Pass = {
      if (traceIt) trace.start()
      val (cpu0, jit0, gc0) = (cpuSeconds(), jitSeconds(), gcSeconds())
      val start = now()
      order.foreach(q => ops += runOp(index, q, "full"))
      val fullEnd = now()
      val cpu1 = cpuSeconds()
      if (example) order.foreach(q => ops += runOp(index, q, "example"))
      val end = now()
      val p = Pass(index, traceIt, start, fullEnd, end, cpu1 - cpu0,
        jitSeconds() - jit0, gcSeconds() - gc0)
      if (traceIt) trace.stop()
      p
    }

    // ---- set-up: everything before the first timed query. The first warm
    // pass is the output pass of the oracle check: it writes each query's
    // full result as parquet (the first run of a query also creates its file
    // fixtures and starts the Postgres server). One more pass follows: after
    // the first, the JIT still compiles for seconds per pass, and the first
    // timed pass read 25% slow on iterate
    val outputs = plan.head.map(q => runOp(0, q, "output"))
    runPass(0, plan.head, traceIt = false)
    ops.clear()
    val setupEnd = now()
    // what the set-up passes left behind: a fixed number of calls per
    // query, so the figure does not grow with the number of timed passes
    val (tmpLeftB, tmpEntriesLeft) = tmpUsage()

    // ---- timed passes (closed loop), started until the window has elapsed.
    // With tracing, passes alternate untraced / traced, starting and ending
    // untraced, so the JIT still settling favours neither side of the
    // tracing-overhead comparison
    var i = 1
    def more = now() < setupEnd + seconds || (traced && (i < 4 || i % 2 == 1))
    while (i < plan.size && (i == 1 || more)) {
      passes += runPass(i, plan(i), traced && i % 2 == 0)
      i += 1
    }
    val timedEnd = now()
    val rss = peakRssMb()

    val oracle = SparkEntry.oracleSql
    val run = Run(cpus, setupEnd, timedEnd, rss, tmpLeftB, tmpEntriesLeft,
      passes.toSeq, ops.toSeq,
      plan.head.map(q => q -> oracle.get(q)).toMap,
      outputs.flatMap(o => o.error.map(o.query -> _)).toMap,
      trace.record)
    mapper.writeValue(out.resolve("run.json").toFile, run)
    spark.stop()
  }
}
