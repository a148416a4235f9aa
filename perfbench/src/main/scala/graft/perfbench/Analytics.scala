package graft.perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{GraftQuery, Tables}
import graft.operators._

/** The `analytics` workload: in traced runs the artifact set-up (each
  * graft.Bench.setup step called and timed on its own), then one untimed
  * warm-up pass over the benchmark's registry sample, then the plan's timed
  * passes, each in its own seed-permuted order. Each query's result is
  * collected through its own physical plan and reduced to an
  * order-insensitive digest on the driver, outside the timed region. */
final class Analytics(spark: SparkSession, plan: JsonNode, rec: Recorder, setup: Setup) {
  import Analytics._

  private val corpus = plan.get("corpus").asText

  def run(): java.util.Map[String, Any] = {
    // The artifact steps run in traced runs only: every artifact is also
    // built lazily (and memoized) by the first query that needs it, so an
    // untraced run pays for just the sample's artifacts inside its warm-up
    // pass, and the timed passes are the same either way.
    if (rec.tracing) artifacts(spark, corpus, setup)
    val passes = plan.get("passes").elements().asScala
      .map(_.elements().asScala.map(i => sample(i.asInt)).toSeq).toSeq
    val runs = java.util.Collections.synchronizedList(
      new java.util.ArrayList[java.util.Map[String, Any]]())
    // the warm-up pass is untimed set-up, so it runs Cores queries at a time
    setup.step("warm_pass") {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(Harness.Cores)
      try sample.map(q => pool.submit(() => runs.add(runQuery(q, 0)))).foreach(_.get())
      finally pool.shutdown()
    }
    val passStats = new java.util.ArrayList[java.util.Map[String, Any]]()
    passes.zipWithIndex.foreach { case (order, pass) =>
      val before = counters()
      order.foreach(q => runs.add(runQuery(q, pass + 1)))
      rec.drain(spark)
      val after = counters()
      passStats.add(Json.obj(after.keys.toSeq.map(k => k -> (after(k) - before(k))): _*))
    }
    rec.drain(spark)
    Json.obj("queries" -> runs, "pass_totals" -> passStats,
      "execs" -> (if (rec.tracing) execsByReq() else Nil))
  }

  private def runQuery(mq: (String, GraftQuery), pass: Int): java.util.Map[String, Any] = {
    val (module, q) = mq
    val name = q.name
    val req = s"a$pass.$name"
    spark.sparkContext.setLocalProperty(Recorder.ReqProperty, req)
    val t0 = System.nanoTime()
    try {
      val df = rec.span("graft.operators", s"build.$module", req = req)(_ => q.fn(spark, corpus))
      val t1 = System.nanoTime()
      rec.span("spark", "plan", req = req)(_ => df.queryExecution.executedPlan)
      val t2 = System.nanoTime()
      val rows = rec.span("spark", "exec", req = req)(_ => df.collect())
      val t3 = System.nanoTime()
      Json.obj("name" -> name, "module" -> module, "pass" -> pass, "ok" -> true,
        "build_ms" -> (t1 - t0) / 1e6, "plan_ms" -> (t2 - t1) / 1e6,
        "exec_ms" -> (t3 - t2) / 1e6, "wall_ms" -> (t3 - t0) / 1e6,
        "rows" -> rows.length, "digest" -> digest(rows))
    } catch { case e: Throwable =>
      System.err.println(s"[perfbench] $name failed: $e")
      Json.obj("name" -> name, "module" -> module, "pass" -> pass, "ok" -> false,
        "wall_ms" -> (System.nanoTime() - t0) / 1e6, "error" -> e.toString.take(300))
    } finally spark.sparkContext.setLocalProperty(Recorder.ReqProperty, null)
  }

  /** Engine totals so far: jobs, stages, task sums and JVM GC time. */
  private def counters(): Map[String, Double] = {
    val js = rec.jobs.values.asScala.filter(_.req.nonEmpty)
    val ts = rec.taskSums.asScala.filter(_._1.startsWith("a")).values
    def sum(f: Recorder.TaskSums => Long) = ts.map(s => s.synchronized(f(s))).sum.toDouble
    Map("jobs" -> js.size.toDouble, "stages" -> js.map(_.stages.size).sum.toDouble,
      "tasks" -> sum(_.tasks), "task_ms" -> sum(_.runMs), "input_bytes" -> sum(_.inputBytes),
      "shuffle_bytes" -> sum(_.shuffleWriteBytes), "spill_bytes" -> sum(_.spillBytes),
      "gc_ms" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum.toDouble)
  }

  /** Traced run: per query execution, the executions its jobs belonged to,
    * plus job spans parented under that query's exec span. */
  private def execsByReq(): Seq[java.util.Map[String, Any]] = {
    val execSpans = rec.spansList.filter(s => s.name == "exec").map(s => s.req -> s.id).toMap
    rec.jobs.values.asScala.filter(j => j.req.startsWith("a") && j.endMs >= 0).foreach { j =>
      rec.addEpoch("spark", "job", j.startMs, j.endMs, j.req, execSpans.getOrElse(j.req, 0L))
    }
    rec.execs.asScala.toSeq.map(e => e.copy(req = rec.execReq.getOrDefault(e.id, "")))
      .filter(_.req.nonEmpty).map(e => Json.obj("req" -> e.req, "plan_ms" -> e.planMs,
        "exec_ms" -> e.execMs, "graft_rule_ns" -> e.graftRuleNs,
        "graft_rule_runs" -> e.graftRuleRuns, "graft_rule_effective" -> e.graftRuleEffective,
        "cap_flushes" -> e.capFlushes))
  }
}

object Analytics {
  /** Registry queries by contributing operator module, in registry order. */
  val modules: Seq[(String, Seq[GraftQuery])] = Seq(
    "WeatherOps" -> WeatherOps.all, "RelationalOps" -> RelationalOps.all,
    "TpchOps" -> TpchOps.all, "TextOps" -> TextOps.all, "DedupOps" -> DedupOps.all,
    "SimilarityOps" -> SimilarityOps.all, "IvfAnn" -> IvfAnn.all, "PqAnn" -> PqAnn.all,
    "IvfPqAnn" -> IvfPqAnn.all, "ParsingOps" -> ParsingOps.all,
    "AnalyticsOps" -> AnalyticsOps.all, "PipelineOps" -> PipelineOps.all,
    "SubqueryOps" -> SubqueryOps.all, "CurationOps" -> CurationOps.all,
    "GraphOps" -> GraphOps.all, "TemporalOps" -> TemporalOps.all,
    "LayoutOps" -> LayoutOps.all)

  /** The benchmark's registry sample: the first query of each module. */
  val sample: IndexedSeq[(String, GraftQuery)] =
    modules.map { case (m, qs) => (m, qs.head) }.toIndexedSeq

  /** graft.Bench.setup's artifact builds, each called and timed on its own
    * so a failure is counted instead of printed and skipped. */
  def artifacts(spark: SparkSession, dir: String, setup: Setup): Unit = {
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    setup.tryStep("layout")(graft.sources.Layouts.bucketedOrdersLineitem(spark, dir))
    setup.tryStep("rollup_layout")(ParsingOps.dailyRollupLayout(spark, dir))
    setup.tryStep("ivf") {
      graft.functions.expressions.GraftExpressions.ensureRegistered(spark)
      IvfAnn.storedIndex(spark, dir, Tables.embeddings(spark, dir).select(col("vec_id"),
        graft.functions.GraftFunctions.vecDouble(col("embedding")).as("v")))
    }
    setup.tryStep("pq")(noop(PqAnn.codeTable(spark, dir)))
    setup.tryStep("ivfpq")(IvfPqAnn.storedIndex(spark, dir))
    setup.tryStep("lsh")(noop(SimilarityOps.codedTable(spark, dir)))
    setup.tryStep("graph")(GraphOps.storedGraph(spark, dir))
    setup.tryStep("kcore")(GraphOps.storedKcore(spark, dir))
    setup.tryStep("basket")(noop(RelationalOps.basketOb(spark, dir)))
    setup.tryStep("cooc")(noop(GraphOps.coocPairs(spark, dir)))
    setup.tryStep("cooc_deg")(noop(GraphOps.coocDegrees(spark, dir)))
    setup.tryStep("dedup")(noop(DedupOps.componentLabels(spark, dir)))
    setup.tryStep("dup_spans")(DedupOps.dupSpanGrams(spark, dir))
    setup.tryStep("minhash_sig")(noop(DedupOps.minhashSig(spark, dir)))
    setup.tryStep("base_mv")(noop(ParsingOps.baseOrderMv(spark, dir)))
  }

  /** Order-insensitive digest of a result: row count plus the wrapping sum
    * of a 64-bit hash of each row's canonical rendering. */
  def digest(rows: Array[Row]): String = {
    var sum = 0L
    rows.foreach { r =>
      val s = render(r)
      sum += (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) |
        (MurmurHash3.stringHash(s, 0x7a11).toLong & 0xffffffffL)
    }
    f"${rows.length}:$sum%016x"
  }

  def render(v: Any): String = v match {
    case null => "null"
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Iterable[_] => s.map(render).mkString("[", ",", "]")
    case d: Double => approx(d, 10)
    case f: Float => approx(f.toDouble, 6)
    case x => x.toString
  }

  /** A float rounded to `digits` significant digits and at most six
    * decimals, so the digest allows what the DuckDB oracle gate allows
    * (atol 1e-6): a change of summation order must not change it. */
  def approx(d: Double, digits: Int): String =
    if (d.isNaN || d.isInfinite) d.toString
    else {
      val r = new java.math.BigDecimal(d).round(new java.math.MathContext(digits))
      val s = if (r.scale > 6) r.setScale(6, java.math.RoundingMode.HALF_EVEN) else r
      if (s.signum == 0) "0" else s.stripTrailingZeros.toPlainString
    }
}
