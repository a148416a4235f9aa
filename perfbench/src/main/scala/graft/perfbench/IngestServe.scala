package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Paths
import java.util.concurrent.{Executors, LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.api.{HttpQueryServer, WeatherQueries}
import graft.streaming.{HttpIngest, WeatherIngest}

/** The `ingest_serve` workload: an open-loop schedule of CSV POSTs into
  * [[HttpIngest]], drained by [[WeatherIngest.start]], beside an open-loop
  * schedule of GETs against [[HttpQueryServer]] on the same session. The
  * plan's GETs start alone (its serve phase) and its POSTs start at
  * `serve_ms`. Every request is timed from its scheduled send time. */
final class IngestServe(spark: SparkSession, plan: JsonNode, rec: Recorder, setup: Setup) {
  import IngestServe._

  private val sc = spark.sparkContext
  private val corpus = plan.get("corpus").asText
  private val runDir = plan.get("run_dir").asText
  private val gets: IndexedSeq[(Long, String)] = plan.get("gets").elements().asScala
    .map(a => (a.get(0).asLong, a.get(1).asText)).toIndexedSeq
  private val posts: IndexedSeq[(Long, String)] = plan.get("posts").elements().asScala
    .map(a => (a.get(0).asLong, a.get(1).asText)).toIndexedSeq
  // at most Cores connections: one carries the POSTs
  private val getSenders = Harness.Cores - 1

  def run(): java.util.Map[String, Any] = {
    val wq = new WeatherQueries(spark, corpus)
    val out = Json.obj()
    val door = new HttpQueryServer(spark, corpus)
    // scheduler pools (fairscheduler.xml) follow the threads each door and
    // stream creates, which inherit the starting thread's local properties
    sc.setLocalProperty(PoolProperty, "queries")
    val port = setup.step("query_door")(door.start())
    sc.setLocalProperty(PoolProperty, null)
    var ingestDoor: HttpIngest = null
    var running: WeatherIngest.Running = null
    try {
      val spool = Paths.get(runDir, "spool").toString
      ingestDoor = new HttpIngest(spool)
      val ingestPort = setup.step("ingest_door")(ingestDoor.start())
      // the warm-up POST lands before the streams start, so their first
      // (immediate) trigger commits it instead of the next periodic one
      val warm = plan.get("warm_post").asText
      require(post(HttpClient.newHttpClient(), ingestPort, warm)._1 == 200, "warm-up POST refused")
      sc.setLocalProperty(PoolProperty, "ingest")
      running = setup.step("streams_start") {
        val lines = spark.readStream.text(spool)
        WeatherIngest.start(lines, s"$runDir/out/raw", s"$runDir/out/quarantine",
          s"$runDir/out/ckpt", s"$runDir/out/tables",
          Trigger.ProcessingTime(plan.get("trigger_ms").asLong))
      }
      sc.setLocalProperty(PoolProperty, null)
      setup.step("warm_batch") {
        require(awaitCommitted(warm.count(_ == '\n').toLong, 120),
          "warm-up lines never committed by all four queries")
      }
      setup.step("warm_gets") {
        val c = HttpClient.newHttpClient()
        Json.strings(plan.get("warm_gets")).foreach { p =>
          val (code, body) = get(c, port, p)
          require(code == 200 || code == 404, s"warm-up GET $p returned $code: $body")
        }
      }
      // expected answers: the facade's own answer per distinct request,
      // computed once before the window (benchmark work, not set-up)
      val t0Expect = System.nanoTime()
      val expected = expectedAnswers(wq)
      out.put("expect_s", (System.nanoTime() - t0Expect) / 1e9)
      out.putAll(window(port, ingestPort, expected))
      out.putAll(drainAndCheck(running))
      if (rec.tracing) {
        out.put("facade", facade(wq))
        out.put("parse", parseRate())
      }
    } finally {
      if (running != null)
        Seq(running.raw, running.quarantine, running.counter, running.yearCounter)
          .foreach(q => if (q.isActive) q.stop())
      if (ingestDoor != null) ingestDoor.stop()
      door.stop()
    }
    out
  }

  /** One (status, body) per distinct GET path, from [[WeatherQueries]]. */
  private def expectedAnswers(wq: WeatherQueries): Map[String, (Int, String)] = {
    val distinct = (gets.map(_._2) ++ Json.strings(plan.get("warm_gets"))).distinct
    val pool = Executors.newFixedThreadPool(Harness.Cores)
    try {
      val fs = distinct.map(p => p -> pool.submit(() => answer(wq, p)))
      fs.map { case (p, f) => val (code, body, _) = f.get(); p -> (code, body) }.toMap
    } finally pool.shutdown()
  }

  /** The open-loop window. */
  private def window(port: Int, ingestPort: Int,
      expected: Map[String, (Int, String)]): java.util.Map[String, Any] = {
    val n = gets.size
    val lat, svc, late = new Array[Double](n)
    val status = Array.fill(n)(-1)
    val ok = new Array[Boolean](n)
    val inflight = new AtomicInteger(0)
    val inflightMax = new AtomicInteger(0)
    val queue = new LinkedBlockingQueue[Integer]()
    // the schedule starts once the senders are up
    val epochT0 = System.currentTimeMillis() + StartLeadMs
    val t0 = System.nanoTime() + StartLeadMs * 1000000L
    val senders = (0 until getSenders).map { s =>
      val th = new Thread(() => {
        val c = HttpClient.newHttpClient()
        var i = queue.take().intValue
        while (i >= 0) {
          val due = t0 + gets(i)._1 * 1000000L
          val path = gets(i)._2
          val f = inflight.incrementAndGet()
          inflightMax.accumulateAndGet(f, math.max)
          val s0 = System.nanoTime()
          val (code, body) =
            try get(c, port, path)
            catch { case e: Exception => (-1, e.toString) }
          val end = System.nanoTime()
          inflight.decrementAndGet()
          status(i) = code
          ok(i) = expected.get(path).contains((code, body))
          if (!ok(i) && code != -1)
            System.err.println(s"[perfbench] GET $path: got $code ${body.take(200)}, " +
              s"expected ${expected.get(path).map(e => s"${e._1} ${e._2.take(200)}")}")
          lat(i) = (end - due) / 1e6
          svc(i) = (end - s0) / 1e6
          rec.add("graft.api", s"get.${routeName(path)}", s0, end, req = s"g$i")
          i = queue.take().intValue
        }
      }, s"perfbench-get-$s")
      th.setDaemon(true)
      th.start()
      th
    }
    val poster = new PostSender(ingestPort, t0)
    poster.thread.start()
    // dispatcher: hands each GET and POST to its sender at its scheduled
    // time; its own lateness is the generator's lateness
    val events = (gets.indices.map(i => (gets(i)._1, 0, i)) ++
      posts.indices.map(k => (posts(k)._1, 1, k))).sortBy(e => (e._1, e._2, e._3))
    val postLate = new Array[Double](posts.size)
    for ((at, kind, i) <- events) {
      val due = t0 + at * 1000000L
      parkUntil(due)
      val l = (System.nanoTime() - due) / 1e6
      if (kind == 0) { late(i) = l; queue.put(i) }
      else { postLate(i) = l; poster.queue.put(i) }
    }
    poster.queue.put(-1)
    (0 until getSenders).foreach(_ => queue.put(-1))
    senders.foreach(_.join(TimeUnit.SECONDS.toMillis(120)))
    poster.thread.join(TimeUnit.SECONDS.toMillis(120))
    val epochT1 = System.currentTimeMillis()
    rec.drain(spark)
    // executions the query door ran in the window (streaming ones excluded)
    val doorExecs = rec.jobs.values.asScala
      .filter(j => !j.streaming && j.execId >= 0 && j.startMs >= epochT0 && j.startMs <= epochT1)
      .map(_.execId).toSet.size
    Json.obj(
      "posts" -> poster.result(postLate),
      "t0_ns" -> t0,
      "gets" -> Json.obj("route" -> gets.map(g => routeName(g._2)), "sched_ms" -> gets.map(_._1),
        "lat_ms" -> lat.toSeq, "svc_ms" -> svc.toSeq, "late_ms" -> late.toSeq,
        "status" -> status.toSeq, "ok" -> ok.toSeq),
      "inflight_max" -> inflightMax.get,
      "door_executions_in_window" -> doorExecs,
      "window_s" -> (epochT1 - epochT0) / 1000.0)
  }

  /** The single POST connection: sends each body handed to it, in order. */
  private final class PostSender(port: Int, t0: Long) {
    private val n = posts.size
    private val status = Array.fill(n)(-1)
    private val accepted = new Array[Long](n)
    private val rtt = new Array[Double](n)
    val queue = new LinkedBlockingQueue[Integer]()
    val thread = new Thread(() => {
      val c = HttpClient.newHttpClient()
      var k = queue.take().intValue
      while (k >= 0) {
        val s0 = System.nanoTime()
        val (code, body) =
          try post(c, port, posts(k)._2)
          catch { case e: Exception => (-1, e.toString) }
        val end = System.nanoTime()
        status(k) = code
        accepted(k) = if (code == 200) body.trim.stripPrefix("accepted ").toLong else 0L
        rtt(k) = (end - s0) / 1e6
        rec.add("graft.streaming", "post", s0, end, req = s"p$k")
        k = queue.take().intValue
      }
    }, "perfbench-post")
    thread.setDaemon(true)
    def result(late: Array[Double]): java.util.Map[String, Any] = Json.obj(
      "sched_ms" -> posts.map(_._1), "status" -> status.toSeq, "accepted" -> accepted.toSeq,
      "rtt_ms" -> rtt.toSeq, "late_ms" -> late.toSeq)
  }

  /** Cumulative input rows per fan-out query, from progress events. */
  private def committedRows(): Map[String, Long] =
    rec.progress.asScala.groupBy(_.query).map { case (q, ps) => q -> ps.map(_.rows).sum }

  /** Wait (on progress events, not on a clock) until all four queries
    * report at least `lines` cumulative input rows. */
  private def awaitCommitted(lines: Long, timeoutS: Int): Boolean = {
    val deadline = System.nanoTime() + timeoutS * 1000000000L
    def done = { val c = committedRows(); c.size == 4 && c.values.forall(_ >= lines) }
    rec.progressSignal.synchronized {
      while (!done && System.nanoTime() < deadline) rec.progressSignal.wait(1000L)
    }
    done
  }

  private def drainAndCheck(running: WeatherIngest.Running): java.util.Map[String, Any] = {
    val warmLines = plan.get("warm_post").asText.count(_ == '\n').toLong
    val total = warmLines + posts.map(_._2.count(_ == '\n').toLong).sum
    val drained = awaitCommitted(total, 120)
    val queries = Seq(running.raw, running.quarantine, running.counter, running.yearCounter)
    queries.foreach(_.stop())
    val terminatedAll = rec.terminated.tryAcquire(4, 60, TimeUnit.SECONDS)
    rec.drain(spark)
    val names = Map(running.raw.id.toString -> "raw",
      running.quarantine.id.toString -> "quarantine",
      running.counter.id.toString -> "daily", running.yearCounter.id.toString -> "year")
    val raw = spark.read.parquet(s"$runDir/out/raw").count()
    val quarantine = spark.read.parquet(s"$runDir/out/quarantine").count()
    def rows(df: org.apache.spark.sql.DataFrame, cols: Seq[String]) =
      df.select(cols.map(org.apache.spark.sql.functions.col): _*).collect().toSeq
        .map(r => (0 until r.length).map(r.get).asJava)
    Json.obj(
      "drained" -> drained, "terminated" -> terminatedAll,
      "progress" -> rec.progress.asScala.toSeq.map(p => Json.obj(
        "query" -> names.getOrElse(p.query, p.query), "batch" -> p.batch, "rows" -> p.rows,
        "at_ns" -> p.atNs, "durations" -> p.durations, "state_rows" -> p.stateRows,
        "state_bytes" -> p.stateBytes)),
      "tables" -> Json.obj("raw" -> raw, "quarantine" -> quarantine,
        "daily" -> rows(running.dailySink.read(spark),
          Seq("wsid", "year", "month", "day", "precipitation", "cnt")),
        "year" -> rows(running.yearSink.read(spark), Seq("wsid", "year", "precipitation", "cnt"))))
  }

  /** Traced run only: the same keys through [[WeatherQueries]] directly,
    * one at a time, each tagged so its jobs, tasks and executions can be
    * attributed to it. */
  private def facade(wq: WeatherQueries): java.util.Map[String, Any] = {
    val perRoute = plan.get("facade_per_route").asInt
    val sample = gets.map(_._2).distinct.groupBy(routeName).toSeq.sortBy(_._1)
      .flatMap { case (_, ps) => ps.take(perRoute) }
    val calls = sample.zipWithIndex.map { case (path, k) =>
      val req = s"f$k"
      sc.setLocalProperty(Recorder.ReqProperty, req)
      val t0 = System.nanoTime()
      val (status, _, rowsOut) =
        rec.span("graft.api", s"facade.${routeName(path)}", req = req)(_ => answer(wq, path))
      val ms = (System.nanoTime() - t0) / 1e6
      sc.setLocalProperty(Recorder.ReqProperty, null)
      (req, routeName(path), ms, status, rowsOut)
    }
    rec.drain(spark)
    val facadeSpans = rec.spansList.filter(_.name.startsWith("facade.")).map(s => s.req -> s.id).toMap
    rec.jobs.values.asScala.filter(j => j.req.startsWith("f") && j.endMs >= 0).foreach { j =>
      rec.addEpoch("spark", "job", j.startMs, j.endMs, j.req, facadeSpans.getOrElse(j.req, 0L))
    }
    val execs = rec.execs.asScala.toSeq.map(e => e.copy(req = rec.execReq.getOrDefault(e.id, "")))
    Json.obj("calls" -> calls.map { case (req, route, ms, status, rowsOut) =>
      val js = rec.jobs.values.asScala.filter(_.req == req).toSeq
      val ts = Option(rec.taskSums.get(req))
      val es = execs.filter(_.req == req)
      Json.obj("req" -> req, "route" -> route, "ms" -> ms, "status" -> status,
        "jobs" -> js.size, "stages" -> js.map(_.stages.size).sum,
        "tasks" -> ts.map(_.tasks).getOrElse(0L), "task_ms" -> ts.map(_.runMs).getOrElse(0L),
        "input_bytes" -> ts.map(_.inputBytes).getOrElse(0L),
        "executions" -> es.size, "plan_ms" -> es.map(_.planMs).sum,
        "exec_ms" -> es.map(_.execMs).sum, "scan_rows" -> es.map(_.scanRows).sum,
        "rows_out" -> rowsOut,
        "graft_rule_ns" -> es.map(_.graftRuleNs).sum,
        "graft_rule_runs" -> es.map(_.graftRuleRuns).sum,
        "graft_rule_effective" -> es.map(_.graftRuleEffective).sum)
    })
  }

  /** Traced run only: batch `WeatherCsv.parseLines` over every
    * posted line, best of three. */
  private def parseRate(): java.util.Map[String, Any] = {
    import spark.implicits._
    val lines = posts.flatMap(_._2.split('\n')).filter(_.nonEmpty)
    val ds = lines.toDS().cache()
    ds.count()
    val times = (1 to 3).map { _ =>
      rec.span("graft.sources", "parse_lines") { _ =>
        val t0 = System.nanoTime()
        graft.sources.WeatherCsv.parseLines(ds).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
    }
    ds.unpersist()
    Json.obj("lines" -> lines.size, "seconds" -> times)
  }
}

object IngestServe {
  val PoolProperty = "spark.scheduler.pool"
  val StartLeadMs = 200L
  def routeName(path: String): String = path.takeWhile(_ != '?') match {
    case "/weather/current" => "current"
    case "/weather/daily" => "daily"
    case "/weather/monthly" => "monthly"
    case "/weather/precip/annual" => "annual"
    case "/weather/precip/topk" => "topk"
    case "/weather/station" => "station"
    case other => other
  }

  def params(path: String): Map[String, Long] =
    path.dropWhile(_ != '?').drop(1).split('&').filter(_.contains('=')).map { kv =>
      val Array(k, v) = kv.split("=", 2)
      k -> v.toLong
    }.toMap

  /** (HTTP status, body, result rows) the query door must return for
    * `path`, computed through the facade and rendered in the door's
    * format. */
  def answer(wq: WeatherQueries, path: String): (Int, String, Int) = {
    val p = params(path)
    def one[T](o: Option[T])(render: T => String) = o match {
      case Some(v) => (200, render(v), 1)
      case None => (404, """{"error":"no data available"}""", 0)
    }
    routeName(path) match {
      case "current" => one(wq.currentReading(p("station")))(readingJson)
      case "daily" => one(wq.dailyStats(p("station"), p("year").toInt, p("month").toInt,
        p("day").toInt))(dailyJson)
      case "monthly" => one(wq.monthlyHiLow(p("station"), p("year").toInt,
        p("month").toInt))(monthlyJson)
      case "annual" => one(wq.annualSum(p("station"), p("year").toInt))(annualJson)
      case "topk" =>
        val days = wq.topKDays(p("k").toInt)
        (200, days.map(stationDayJson).mkString("[", ",", "]"), days.size)
      case "station" => one(wq.station(p("id")))(stationJson)
    }
  }

  def get(c: HttpClient, port: Int, path: String): (Int, String) = {
    val r = c.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .timeout(java.time.Duration.ofSeconds(60)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode, r.body.stripSuffix("\n"))
  }

  def post(c: HttpClient, port: Int, body: String): (Int, String) = {
    val r = c.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/weather/data"))
      .timeout(java.time.Duration.ofSeconds(60))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode, r.body)
  }

  def parkUntil(due: Long): Unit = {
    var now = System.nanoTime()
    while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
  }

  // The query door's JSON rendering (HttpQueryServer), reproduced so each
  // response body can be compared byte for byte with the facade's answer.
  private def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  import WeatherQueries._
  private def readingJson(r: Reading): String =
    s"""{"stationId":${r.stationId},"eventId":${r.eventId},"kind":${jstr(r.kind)},"value":${r.value}}"""
  private def dailyJson(d: DailyStats): String =
    s"""{"stationId":${d.stationId},"year":${d.year},"month":${d.month},"day":${d.day},""" +
      s""""high":${d.high},"low":${d.low},"mean":${d.mean},"variance":${d.variance},"stdev":${d.stdev}}"""
  private def monthlyJson(m: MonthlyHiLow): String =
    s"""{"stationId":${m.stationId},"year":${m.year},"month":${m.month},"hi":${m.hi},"lo":${m.lo}}"""
  private def annualJson(a: AnnualSum): String =
    s"""{"stationId":${a.stationId},"year":${a.year},"total":${a.total},"count":${a.count}}"""
  private def stationDayJson(s: StationDay): String =
    s"""{"stationId":${s.stationId},"day":${jstr(s.day.toString)},"total":${s.total}}"""
  private def stationJson(s: Station): String =
    s"""{"id":${s.id},"name":${jstr(s.name)},"nation":${jstr(s.nation)},"region":${jstr(s.region)}}"""
}
