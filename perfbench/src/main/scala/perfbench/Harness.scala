package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.BenchBridge
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Workload parameters: the JSON object `run.py` writes for the harness. */
final class Params(v: JObject) {
  private def get(k: String): JValue = v \ k match {
    case JNothing => throw new IllegalArgumentException(s"missing parameter '$k'")
    case x => x
  }
  def long(k: String): Long = get(k) match {
    case JInt(n) => n.toLong
    case other => throw new IllegalArgumentException(s"parameter '$k' must be an integer, got $other")
  }
  def int(k: String): Int = long(k).toInt
  def double(k: String): Double = get(k) match {
    case JDouble(d) => d
    case JInt(n) => n.toDouble
    case other => throw new IllegalArgumentException(s"parameter '$k' must be a number, got $other")
  }
}

/** Minimal JSON text builders for the result files. */
object Json {
  def str(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, x) => s"${str(k)}:$x" }.mkString("{", ",", "}")
}

/** Runs one workload in one process and writes `result.json`:
  *
  *  1. set-up, repeated `setups` times (each a fresh session and function
  *     registration), timed; then `warmup_ops` untimed operations on the
  *     small warm-up input, so class loading, generated-code caches and
  *     most JIT compilation are done before anything is measured;
  *  2. operations in a closed loop until `seconds` have passed. With
  *     tracing on, operations alternate untraced / traced: a traced one
  *     runs with the span listener attached and every span under its own
  *     job group; an untraced one runs with neither;
  *  3. the spans with the jobs each one ran, live heap after the run,
  *     process peak RSS and GC time.
  *
  * An operation that throws is recorded as failed, left out of every
  * timing, and makes the process exit 1 after the result is written.
  */
object Harness {

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val p = new Params(JsonMethods.parse(new String(
      Files.readAllBytes(Paths.get(args("params"))), UTF_8)).asInstanceOf[JObject])
    val workload = Workloads(args("workload"), p)
    val out = args("out")
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val cores = args("cores").toInt
    Files.createDirectories(Paths.get(out))

    var spark: SparkSession = null
    val setupS = (1 to args("setups").toInt).map { _ =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = session(cores, args("local"))
      graft.functions.GraftFunctions.register(spark)
      (System.nanoTime() - t0) / 1e9
    }
    val warmStart = System.nanoTime()
    workload.warmUp(spark, args("warm"), out, p.int("warmup_ops"))
    System.err.println(f"[perfbench] set-ups ${setupS.sum}%.1f s; warm-up " +
      f"${(System.nanoTime() - warmStart) / 1e9}%.1f s")

    val sc = spark.sparkContext
    val tracer = new Tracer(sc)
    val listener = new SpanListener
    val ops = mutable.ArrayBuffer[String]()
    val failedOps = mutable.Set[Int]()
    var tracedGcMs = 0L
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < deadline || (trace && i < 2)) {
      val traced = trace && i % 2 == 1
      if (traced) {
        BenchBridge.drainListeners(sc)
        sc.addSparkListener(listener)
        tracer.op = i
        tracer.active = true
      }
      val gc0 = gcMs()
      val t0 = System.nanoTime()
      try workload.run(spark, args("in"), out, tracer)
      catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] operation $i failed: $e")
          e.printStackTrace()
          failedOps += i
      }
      val ms = (System.nanoTime() - t0) / 1e6
      if (traced) {
        tracer.active = false
        tracedGcMs += gcMs() - gc0
        BenchBridge.drainListeners(sc)
        sc.removeSparkListener(listener)
      }
      ops += Json.obj("i" -> i.toString, "ms" -> Json.num(ms),
        "traced" -> traced.toString, "ok" -> (!failedOps(i)).toString)
      i += 1
    }
    val liveHeapMb = liveHeapMib()

    val spans = tracer.spans.filterNot(s => failedOps(s.op)).map { s =>
      val js = listener.jobs.filter(_.group == s.id)
      Json.obj(
        "name" -> Json.str(s.name), "op" -> s.op.toString,
        "wall_s" -> Json.num(s.wallNs / 1e9),
        "jobs" -> js.size.toString,
        "task_s" -> Json.num(js.map(_.taskMs).sum / 1e3),
        "covered_s" -> Json.num(covered(s.startMs, s.endMs, js.map(j => (j.startMs, j.endMs)).toSeq) / 1e3),
        "shuffle_bytes" -> js.map(_.shuffleBytes).sum.toString,
        "spill_bytes" -> js.map(_.spillBytes).sum.toString,
        "scan_bytes" -> js.map(_.scanBytes).sum.toString)
    }
    val result = Json.obj(
      "setup_s" -> Json.arr(setupS.map(Json.num)),
      "items_per_op" -> workload.itemsPerOp.toString,
      "ops" -> Json.arr(ops),
      "spans" -> Json.arr(spans),
      "traced_jobs" -> listener.jobs.size.toString,
      "traced_stages" -> listener.jobs.map(_.stages).sum.toString,
      "traced_failed_tasks" -> listener.jobs.map(_.failedTasks).sum.toString,
      "traced_gc_s" -> Json.num(tracedGcMs / 1e3),
      "live_heap_mb" -> Json.num(liveHeapMb),
      "peak_rss_mb" -> Json.num(peakRssMb()))
    Files.write(Paths.get(s"$out/result.json"), result.getBytes(UTF_8))
    spark.stop()
    if (failedOps.nonEmpty) sys.exit(1)
  }

  private def session(cores: Int, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Milliseconds of [start, end] covered by the union of the intervals. */
  private def covered(start: Long, end: Long, iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var reach = start
    iv.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Heap still in use after full collections, in MiB: what the workload
    * keeps between operations (caches, leaked blocks, driver state). The
    * pause lets Spark's ContextCleaner release blocks whose references the
    * first collection cleared.
    */
  private def liveHeapMib(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** The process's peak resident set (VmHWM), in MiB. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024)
      .getOrElse(Double.NaN)
}
