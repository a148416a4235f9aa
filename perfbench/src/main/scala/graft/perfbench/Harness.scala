package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark. Reads one run plan (written by
  * perfbench/run.py from the seed), drives one workload against the
  * program's public entry points, and writes every raw observation to
  * `raw.json` in the run directory. Statistics, output checks against the
  * generator's expectations, and the printed metrics are computed by
  * run.py from that file.
  *
  * Usage: Harness <run_dir>   (reads <run_dir>/plan.json)
  */
object Harness {
  val Cores = 4

  def main(args: Array[String]): Unit = {
    val runDir = args(0)
    val plan = new ObjectMapper().readTree(new File(runDir, "plan.json"))
    val workload = plan.get("workload").asText
    val rec = new Recorder(plan.get("trace").asInt == 1)
    val out = new java.util.LinkedHashMap[String, Any]()
    val setup = new Setup(rec)
    val spark = setup.step("session")(session(runDir))
    rec.attach(spark)
    try {
      val result = workload match {
        case "ingest_serve" => new IngestServe(spark, plan, rec, setup).run()
        case "analytics" => new Analytics(spark, plan, rec, setup).run()
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      out.putAll(result)
      out.put("heap_retained_bytes", retainedHeapBytes())
      rec.drain(spark)
      out.put("setup", setup.toJava)
      out.put("provenance", provenance(spark))
      out.put("spans", rec.spansList.map(s => Json.obj("id" -> s.id, "parent" -> s.parent,
        "req" -> s.req, "layer" -> s.layer, "name" -> s.name, "start_ns" -> s.start,
        "end_ns" -> s.end)))
      out.put("peak_rss_kb", peakRssKb())
    } finally spark.stop()
    Files.write(Paths.get(runDir, "raw.json"),
      new ObjectMapper().writeValueAsString(Json.deep(out)).getBytes(StandardCharsets.UTF_8))
  }

  /** The bench's single-node latency profile (as graft.Bench builds it),
    * with every on-disk location inside the run directory. */
  def session(runDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.ui.explainMode", "simple")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // queries and the ingest fan-out share one session: FAIR pools
      // (fairscheduler.xml), as WeatherQueries' docs advise for a shared
      // session
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.local.dir", new File(runDir, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(runDir, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.QuietLogs.quietBenignWindowWarnings()
    spark
  }

  def provenance(spark: SparkSession): java.util.Map[String, Any] = Json.obj(
    "spark_version" -> spark.version,
    "cores" -> Cores,
    "nproc" -> Runtime.getRuntime.availableProcessors,
    "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
    "java_version" -> System.getProperty("java.version"))

  /** Peak resident set of this JVM (Linux VmHWM), in kB. */
  def peakRssKb(): Long =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    catch { case _: java.io.IOException => -1L }

  /** Heap still in use after full collections once the workload is done:
    * what the program keeps, caches included. A collection hands Spark's
    * ContextCleaner broadcasts and shuffles that it then frees on its own
    * thread, so collect until the heap stops shrinking (by 1 MB). */
  def retainedHeapBytes(): Long = {
    def collected(): Long = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var last = collected()
    var rounds = 1
    var shrinking = true
    while (shrinking && rounds < 20) {
      Thread.sleep(100)
      val now = collected()
      shrinking = now < last - (1L << 20)
      last = math.min(last, now)
      rounds += 1
    }
    last
  }

  /** Milliseconds since JVM start, from the runtime bean. */
  def sinceJvmStartMs(): Long =
    System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime
}

/** Set-up bookkeeping: every step is timed and called on its own, and a
  * failed step is counted, not swallowed. */
final class Setup(rec: Recorder) {
  private val steps = new java.util.ArrayList[java.util.Map[String, Any]]()
  /** JVM start until the harness's first line, in seconds. */
  val jvmStartS: Double = Harness.sinceJvmStartMs() / 1000.0
  def step[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    var ok = false
    try { val r = rec.span("graft", name)(_ => body); ok = true; r }
    finally steps.add(Json.obj("name" -> name, "s" -> (System.nanoTime() - t0) / 1e9, "ok" -> ok))
  }
  /** Like `step`, but a failure is recorded and the run carries on. */
  def tryStep(name: String)(body: => Unit): Unit =
    try step(name)(body)
    catch { case e: Throwable =>
      System.err.println(s"[perfbench] setup step $name failed: $e")
    }
  def toJava: java.util.Map[String, Any] = Json.obj("jvm_start_s" -> jvmStartS, "steps" -> steps)
}

/** Tiny helpers to build the raw.json tree from Scala values. */
object Json {
  def obj(kv: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }
  /** Convert nested Scala collections to Java ones for Jackson. */
  def deep(v: Any): Any = v match {
    case m: java.util.Map[_, _] =>
      val o = new java.util.LinkedHashMap[String, Any]()
      m.asScala.foreach { case (k, x) => o.put(k.toString, deep(x)) }
      o
    case m: scala.collection.Map[_, _] =>
      val o = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => o.put(k.toString, deep(x)) }
      o
    case l: java.util.List[_] => l.asScala.map(deep).asJava
    case s: Iterable[_] => s.map(deep).toSeq.asJava
    case a: Array[_] => a.toSeq.map(deep).asJava
    case d: Double if d.isNaN || d.isInfinite => null
    case x => x
  }
  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq
}
