package perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.sources.{MqttLike, SeqOffset}
import graft.streaming.{ModuleRegistry, Pipelines, StatefulOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, from_json, struct, to_json}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types._
import java.nio.file.{Files, Path, Paths}
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The inputs of one rung, made from the seed before the rung starts.
  * `expected(i)` is the output event i must produce, None when the event is
  * malformed and must not be published. Event 0 is the set-up event. */
final case class Inputs(payloads: Array[String], expected: Array[Option[Map[String, Any]]])

/** Stream workloads: a registered or benchmark-built module is started
  * through `ModuleRegistry.start` and fed by one generator thread in an open
  * loop — events are published on a fixed schedule that does not slow down
  * when the engine does, and each event is timed from its due time to the
  * modification time of its output message in the sink spool.
  *
  * Each rung of the rate ladder gets a fresh session, spool and checkpoint;
  * starting them is that rung's set-up. */
object Stream {
  private val Iso = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'").withZone(ZoneOffset.UTC)
  private val IsoMs = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").withZone(ZoneOffset.UTC)
  /** dd carries the event id in its timestamp: event i is stamped base + i s,
    * because the published payload has no other field that passes through. */
  private val DdBase = Instant.parse("2024-01-01T00:00:00Z").getEpochSecond
  private val UpsBase = Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
  /** How long a rung waits, after its last event, for the module to commit
    * it; an event still without output then counts as missing. */
  private val DrainS = 10.0

  private val UpsSchema = StructType(Seq(StructField("device_id", LongType),
    StructField("ts", TimestampType), StructField("bus_reg", IntegerType),
    StructField("shunt_reg", IntegerType), StructField("current_reg", IntegerType),
    StructField("power_reg", IntegerType)))

  /** The ups module: spool source → JSON parse → INA219 decode → per-device
    * derived metrics held in keyed state → JSON publish. */
  def upsModule(triggerMs: Long): ModuleRegistry.Module =
    ModuleRegistry.Module("ups", ModuleRegistry.MqttTopic("sensors/ups"), upsDerived,
      "sensors/ups_derived", df => to_json(struct(df.columns.toSeq.map(df(_)): _*)), triggerMs)

  private def upsReadings(payloads: DataFrame) = {
    import payloads.sparkSession.implicits._
    Pipelines.upsDecode(payloads.select(from_json(col("payload"), UpsSchema).as("j")).select("j.*"))
      .select("device_id", "ts", "current_ma", "batt_pct").as[StatefulOps.UpsReading]
  }

  private def upsDerived(payloads: DataFrame): DataFrame =
    StatefulOps.upsDerivedStream(upsReadings(payloads)).toDF()

  // ---------------------------------------------------------------- inputs

  def ddInputs(rnd: scala.util.Random, n: Int, w: JsonNode): Inputs = {
    val malformed = w.path("malformed_frac").asDouble()
    val missing = w.path("missing_field_frac").asDouble()
    val fields = Seq("temp_outdoor_celsius", "temp_indoor_celsius", "rh_outdoor")
    val out = (0 until n).map { i =>
      val ts = Iso.format(Instant.ofEpochSecond(DdBase + i))
      val vals = Seq(rnd.between(-100, 400) / 10.0, rnd.between(150, 300) / 10.0, rnd.between(200, 1000) / 10.0)
      val u = if (i == 0) 1.0 else rnd.nextDouble()
      val drop = if (u < malformed + missing && u >= malformed) rnd.nextInt(3) else -1
      val body = ("\"timestamp_utc\": \"" + ts + "\"") +: fields.indices.filter(_ != drop)
        .map(j => "\"" + fields(j) + "\": " + vals(j))
      val json = body.mkString("{", ", ", "}")
      if (u < malformed) (json.take(1 + rnd.nextInt(json.length - 1)), None)
      else (json, Some(Map[String, Any]("ts" -> IsoMs.format(Instant.ofEpochSecond(DdBase + i))) ++
        fields.indices.map(j => fields(j) -> (if (j == drop) 888.8 else vals(j)))))
    }
    Inputs(out.map(_._1).toArray, out.map(_._2).toArray)
  }

  /** INA219 register samples for a fixed device population. Each device
    * keeps a battery level and a charge direction that flips now and then;
    * readings are stamped on the rung's schedule, strictly increasing per
    * device so each output names its input by (device_id, ts). */
  def upsInputs(rnd: scala.util.Random, n: Int, w: JsonNode, eps: Double): Inputs = {
    val devices = w.path("devices").asInt()
    val volts = Array.fill(devices)(6.0 + rnd.nextDouble() * 2.4)
    val charging = Array.fill(devices)(rnd.nextBoolean())
    val lastTs = Array.fill(devices)(Long.MinValue)
    def reg16(v: Int) = if (v < 0) v + 65536 else v
    val payloads = (0 until n).map { i =>
      val d = rnd.nextInt(devices)
      if (rnd.nextDouble() < 0.02) charging(d) = !charging(d)
      volts(d) = math.min(8.4, math.max(6.0, volts(d) + (if (charging(d)) 0.01 else -0.01) * rnd.nextDouble()))
      val ma = (if (charging(d)) 1 else -1) * rnd.between(100, 2000)
      val ts = math.max(UpsBase + (i * 1000 / eps).toLong, lastTs(d) + 1)
      lastTs(d) = ts
      s"""{"device_id": $d, "ts": "${IsoMs.format(Instant.ofEpochMilli(ts))}", """ +
        s""""bus_reg": ${(volts(d) / 0.004).round.toInt << 3}, "shunt_reg": ${reg16(ma / 10)}, """ +
        s""""current_reg": ${reg16(ma * 10)}, "power_reg": ${rnd.between(0, 8000)}}"""
    }
    // ups has no malformed inputs; its expected rows come from the batch twin
    Inputs(payloads.toArray, Array.fill(n)(None))
  }

  // ------------------------------------------------------------------ run

  def run(ctx: Ctx): Map[String, Any] = {
    val w = ctx.workloadConf
    val module = w.path("module").asText()
    val triggerMs = ctx.conf.path("trigger_ms").asLong()
    val settings = Paths.get(ctx.scratch, "settings.json")
    Files.createDirectories(settings.getParent)
    Files.writeString(settings, s"""{"collection_event_interval_ms": $triggerMs,
      |  "dd": {"mqtt": {"topic": "sensors/dd"}, "sink_topic": "sensors/dd_enriched"}}""".stripMargin)
    val rnd = new scala.util.Random(ctx.seed)
    val gc0 = Proc.gcMs()
    val rungs = w.path("rungs").elements().asScala.toSeq.zipWithIndex.map { case (r, i) =>
      val mod = if (module == "dd") ModuleRegistry.fromConfig(settings.toString)("dd") else upsModule(triggerMs)
      // open-loop rungs last whole trigger intervals, so the wait for the
      // next trigger is uniform whatever the rung's phase
      val seconds = math.max(1.0, math.floor(ctx.seconds * r.path("share").asDouble()))
      val backlog = r.path("backlog").asInt(0)
      rung(ctx, i, r.path("name").asText(), r.path("eps").asDouble(), seconds, backlog, mod, module, rnd, w)
    }
    Map("kind" -> "stream", "workload" -> ctx.workload, "seed" -> ctx.seed, "cores" -> ctx.cores,
      "trigger_ms" -> triggerMs, "rungs" -> rungs, "gc_s" -> (Proc.gcMs() - gc0) / 1e3,
      "setup_s" -> rungs.map(_("setup_s")))
  }

  private def committed(q: StreamingQuery): Long =
    Option(q.lastProgress).flatMap(p => p.sources.headOption).flatMap(s => Option(s.endOffset))
      .map(o => SeqOffset.parse(o).root).getOrElse(0L)

  private def await(timeoutS: Double)(cond: => Boolean): Boolean = {
    val end = System.nanoTime() + (timeoutS * 1e9).toLong
    while (!cond && System.nanoTime() < end) Thread.sleep(5)
    cond
  }

  /** One rung: set-up, then either the open-loop generator at `eps` for
    * `seconds`, or (`backlog` > 0) a start of the module with `backlog`
    * events already queued in its spool — a daemon coming back to a broker
    * that held its messages — drained to the end. */
  private def rung(ctx: Ctx, idx: Int, name: String, eps: Double, seconds: Double, backlog: Int,
                   m: ModuleRegistry.Module, module: String, rnd: scala.util.Random,
                   w: JsonNode): Map[String, Any] = {
    val n = 1 + (if (backlog > 0) backlog else math.max(1, (eps * seconds).round.toInt)) // 0: set-up
    val intervalNs = if (backlog > 0) 0.0 else 1e9 / eps
    val spool = s"${ctx.scratch}/$name/spool"
    val drainSpool = s"${ctx.scratch}/$name-drain/spool"
    val topic = m.source.asInstanceOf[ModuleRegistry.MqttTopic].topic
    var startMono = 0L
    val dueMono = (i: Int) => startMono + ((i - 1) * intervalNs).toLong
    val inputs = module match {
      case "dd"  => ddInputs(rnd, n, w)
      case "ups" => upsInputs(rnd, n, w, if (backlog > 0) 1000.0 else eps)
    }
    // ---- set-up: session, query, first batch committed
    val t0 = if (idx == 0) Proc.jvmStartNs() else Clock.nowNs()
    val spark = ctx.newSession()
    var q = ModuleRegistry.start(spark, m, spool, Some(s"${ctx.scratch}/$name/ckpt"))
    val seqs = new Array[Long](n)
    seqs(0) = MqttLike.publishFrom(spool, topic, inputs.payloads(0), "", 0L)
    require(await(120)(committed(q) >= 1), s"$name: first batch never committed")
    val setupS = (Clock.nowNs() - t0) / 1e9
    // ---- timed: the generator (open loop), or restarts onto a backlog
    val pubMono = new Array[Long](n)
    val pubNs = new Array[Long](n)
    var next = seqs(0) + 1
    def publish(i: Int, due: Long, into: String = spool): Unit = {
      var now = System.nanoTime()
      while (now < due) { java.util.concurrent.locks.LockSupport.parkNanos(due - now); now = System.nanoTime() }
      seqs(i) = MqttLike.publishFrom(into, topic, inputs.payloads(i), "", next)
      next = seqs(i) + 1
      pubMono(i) = now
      pubNs(i) = System.nanoTime() - now
    }
    val progress = ArrayBuffer.empty[StreamingQueryProgress]
    if (backlog == 0) {
      // triggers fire on whole seconds of the wall clock: start half-way
      val wallMs = System.currentTimeMillis()
      startMono = System.nanoTime() + ((wallMs / 1000 + 1) * 1000 + 500 - wallMs) * 1000000L
      val gen = new Thread(() => (1 until n).foreach(i => publish(i, dueMono(i))), s"generator-$name")
      gen.start(); gen.join()
      await(DrainS)(committed(q) >= n)
      q.stop()
      progress ++= q.recentProgress
    } else {
      // the drain starts the module on its own spool with `backlog` events
      // already queued
      q.stop()
      startMono = System.nanoTime()
      next = 0L
      (1 to backlog).foreach(i => publish(i, System.nanoTime(), drainSpool))
      q = ModuleRegistry.start(spark, m, drainSpool, Some(s"${ctx.scratch}/$name-drain/ckpt"))
      await(DrainS)(committed(q) >= backlog)
      q.stop()
      progress ++= q.recentProgress
    }
    val endMono = System.nanoTime()
    val rungSpan = ctx.spans.add(-1, s"rung-$name", "bench", Clock.toEpochNs(startMono), Clock.toEpochNs(endMono))
    // ---- check each spool's outputs (payload, write time) against the
    // events published into it: the drain starts from empty state, so its
    // outputs depend on its own events only
    val timed = backlog == 0
    val segments = if (timed) Seq(spool -> (0 until n)) else Seq(spool -> Seq(0), drainSpool -> (1 until n))
    val written = segments.map { case (dir, events) =>
      val outDir = Paths.get(dir, MqttLike.sanitize(m.sinkTopic))
      events -> MqttLike.listSeqs(outDir).map { s =>
        val p = outDir.resolve(s"$s.msg")
        (Files.readString(p), Files.getLastModifiedTime(p).to(java.util.concurrent.TimeUnit.NANOSECONDS))
      }
    }
    val check = module match {
      case "dd"  => written.map { case (events, outputs) => checkDd(inputs, events, outputs) }.reduce(_ + _)
      case "ups" => checkUps(spark, inputs, written)
    }
    spark.stop()
    // event index -> latency (ms) from its due time to its output's write
    // time; a backlog has no schedule, so no latencies or lateness
    val lat = check.matched.collect { case (i, mtime) if i > 0 && timed =>
      (mtime - Clock.toEpochNs(dueMono(i))) / 1e6 }
    val late = (if (timed) (1 until n).map(i => (pubMono(i) - dueMono(i)) / 1e6) else Seq(0.0)).sorted
    val publishUs = (1 until n).map(i => pubNs(i) / 1e3).sorted
    // a drain has no schedule and restarts seqs on its spool: no backlog or write spans
    val batches = batchRecords(ctx, rungSpan, progress.toSeq, seqs, pubMono, if (timed) check.matched else Nil, timed)
    // time from the first event's due time to the last output's write
    val deliveredS = if (timed && check.matched.nonEmpty)
      (check.matched.map(_._2).max - Clock.toEpochNs(dueMono(1))) / 1e9 else 0.0
    Map("name" -> name, "eps" -> eps, "seconds" -> seconds, "events" -> (n - 1), "backlog" -> backlog,
      "setup_s" -> setupS, "start_ns" -> Clock.toEpochNs(startMono), "end_ns" -> Clock.toEpochNs(endMono),
      "latencies_ms" -> lat, "valid" -> check.valid, "missing" -> check.missing, "wrong" -> check.wrong,
      "duplicate" -> check.duplicate, "outputs" -> check.outputs, "delivered_s" -> deliveredS,
      "gen_lateness_p99_ms" -> late((late.size * 0.99).toInt min (late.size - 1)),
      "gen_publish_p50_us" -> publishUs(publishUs.size / 2), "batches" -> batches)
  }

  /** Result of comparing a rung's outputs with what its inputs must yield:
    * `matched` pairs an event index with its output's write time. */
  final case class Check(matched: Seq[(Int, Long)], valid: Int, missing: Int, wrong: Int, duplicate: Int,
                         outputs: Int) {
    def +(o: Check): Check = Check(matched ++ o.matched, valid + o.valid, missing + o.missing,
      wrong + o.wrong, duplicate + o.duplicate, outputs + o.outputs)
  }

  private def checkDd(in: Inputs, events: Seq[Int], outputs: Seq[(String, Long)]): Check = {
    val mine = events.toSet
    val seen = new Array[Boolean](in.payloads.length)
    var wrong = 0; var dup = 0
    val matched = ArrayBuffer.empty[(Int, Long)]
    outputs.foreach { case (payload, mtime) =>
      val got = Main.mapper.readValue(payload, classOf[Map[String, Any]])
      val id = got.get("ts").map(t => Instant.parse(t.toString).getEpochSecond - DdBase).getOrElse(-1L)
      if (!mine.contains(id.toInt) || !in.expected(id.toInt).contains(normalize(got))) wrong += 1
      else if (seen(id.toInt)) dup += 1
      else { seen(id.toInt) = true; matched += id.toInt -> mtime }
    }
    val valid = events.count(in.expected(_).isDefined)
    Check(matched.toSeq, valid, valid - matched.size, wrong, dup, outputs.size)
  }

  private def normalize(m: Map[String, Any]): Map[String, Any] = m.map {
    case (k, v: Number) => k -> v.doubleValue()
    case kv             => kv
  }

  /** ups: the published rows of each spool must equal
    * `StatefulOps.upsDerivedBatch` over the readings published into it. All
    * spools are checked in one batch job: each spool's devices are moved to
    * their own id range, so their state histories stay apart. */
  private def checkUps(spark: SparkSession, in: Inputs,
                       spools: Seq[(Seq[Int], Seq[(String, Long)])]): Check = {
    import spark.implicits._
    val shift = 1000000000L
    val readings = spools.zipWithIndex.flatMap { case ((events, _), s) => events.map(i => (s.toLong, in.payloads(i))) }
      .toDF("spool", "payload")
    val decoded = Pipelines.upsDecode(
      readings.select(col("spool"), from_json(col("payload"), UpsSchema).as("j")).select("spool", "j.*"))
      .select((col("device_id") + col("spool") * shift).as("device_id"), col("ts"), col("current_ma"), col("batt_pct"))
      .as[StatefulOps.UpsReading]
    val derived = StatefulOps.upsDerivedBatch(decoded)
    val row = struct(derived.columns.toSeq.map(c => if (c == "device_id") (col(c) % shift).as(c) else col(c)): _*)
    val expected = derived.select((col("device_id") / shift).cast("long"), to_json(row)).as[(Long, String)].collect()
    val key = (s: String) => {
      val j = Main.mapper.readTree(s)
      (j.path("device_id").asLong(), Instant.parse(j.path("ts").asText()).toEpochMilli)
    }
    spools.zipWithIndex.map { case ((events, outputs), s) =>
      val byKey = expected.collect { case (`s`, e) => key(e) -> e }.toMap
      val index = events.map(i => key(in.payloads(i)) -> i).toMap
      val seen = scala.collection.mutable.HashSet.empty[(Long, Long)]
      var wrong = 0; var dup = 0
      val matched = ArrayBuffer.empty[(Int, Long)]
      outputs.foreach { case (payload, mtime) =>
        val k = key(payload)
        if (!byKey.get(k).contains(payload)) wrong += 1
        else if (!seen.add(k)) dup += 1
        else matched += index(k) -> mtime
      }
      Check(matched.toSeq, events.size, events.size - matched.size, wrong, dup, outputs.size)
    }.reduce(_ + _)
  }

  /** One record per micro-batch: its `durationMs` parts, state operator
    * report, committed offset, the backlog at its commit and the span of
    * its output writes. In a traced run each batch also becomes a span
    * with its parts laid out in execution order. */
  private def batchRecords(ctx: Ctx, rungSpan: Int, progress: Seq[StreamingQueryProgress],
                           seqs: Array[Long], pubMono: Array[Long],
                           matched: Seq[(Int, Long)], timed: Boolean): Seq[Map[String, Any]] = {
    val outBySeq = matched.map { case (i, mtime) => seqs(i) -> mtime }.sortBy(_._1)
    progress.map { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap
      val src = p.sources.head
      val from = Option(src.startOffset).map(SeqOffset.parse(_).root).getOrElse(0L)
      val until = Option(src.endOffset).map(SeqOffset.parse(_).root).getOrElse(0L)
      val begin = Instant.parse(p.timestamp).toEpochMilli * 1000000L
      val commit = begin + d.getOrElse("triggerExecution", 0L) * 1000000L
      // published by the commit time: events whose publish started before it
      val published = (1 until seqs.length).count(i => pubMono(i) != 0 && Clock.toEpochNs(pubMono(i)) <= commit) + 1
      val writes = outBySeq.filter { case (s, _) => s >= from && s < until }.map(_._2)
      val st = p.stateOperators.toSeq
      if (ctx.trace) {
        val b = ctx.spans.add(rungSpan, s"batch${p.batchId}", "streaming", begin, commit,
          Map("rows" -> p.numInputRows))
        var t = begin
        Seq("latestOffset" -> "sources", "walCommit" -> "streaming", "getBatch" -> "sources",
          "queryPlanning" -> "streaming", "addBatch" -> "streaming", "commitOffsets" -> "streaming")
          .foreach { case (part, layer) =>
            val dur = d.getOrElse(part, 0L) * 1000000L
            ctx.spans.add(b, part, layer, t, t + dur); t += dur
          }
      }
      Map("batch" -> p.batchId, "begin_ns" -> begin, "commit_ns" -> commit, "rows" -> p.numInputRows,
        "from" -> from, "until" -> until, "backlog" -> (published - until), "duration_ms" -> d,
        "after_start" -> (!timed || from > seqs(0)),
        "write_span_ms" -> (if (writes.isEmpty) 0.0 else (writes.max - writes.min) / 1e6),
        "outputs" -> writes.size,
        "state_rows" -> st.map(_.numRowsTotal).sum, "state_bytes" -> st.map(_.memoryUsedBytes).sum,
        "state_commit_ms" -> st.map(_.commitTimeMs).sum, "state_update_ms" -> st.map(_.allUpdatesTimeMs).sum)
    }
  }
}
