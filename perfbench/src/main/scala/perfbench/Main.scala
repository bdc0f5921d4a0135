package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Everything one run needs: where its inputs and scratch live, its seed and
  * time budget, and whether it records spans. */
final case class Ctx(workload: String, seed: Long, seconds: Double, trace: Boolean,
                     cores: Int, data: String, scratch: String, conf: JsonNode) {
  val spans = new Spans(trace)
  private val listeners = scala.collection.mutable.ArrayBuffer.empty[JobListener]

  /** A fresh session from the program's own recipe. Any previous session is
    * stopped first, so each set-up pays the full session cost. */
  def newSession(): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val s = graft.Engine.session(s"local[$cores]", cores)
    if (trace) {
      val l = new JobListener; s.sparkContext.addSparkListener(l); listeners += l
    }
    s
  }
  /** Jobs of every session this run created. */
  def jobRecords: Seq[Map[String, Any]] = listeners.toSeq.flatMap(_.jobRecords())
  def workloadConf: JsonNode = conf.path("workloads").path(workload)
}

/** Benchmark process: runs one workload and writes its raw measurements as
  * JSON. `run.py` turns them into metrics and checks the outputs.
  *
  * {{{
  * perfbench.Main --workload etl-batch --seed 1 --seconds 10 --trace 0
  *   --cores 4 --data <tables dir> --scratch <empty dir> --config workloads.json --out raw.json
  * perfbench.Main --record <dir> --data <tables dir> --scratch <dir> --config workloads.json
  * }}}
  */
object Main {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val conf = mapper.readTree(new java.io.File(a("config")))
    val out: Map[String, Any] =
      if (a.contains("record")) Batch.record(a("record"), a("data"), a("scratch"), conf, a.getOrElse("cores", "4").toInt)
      else {
        val ctx = Ctx(a("workload"), a("seed").toLong, a("seconds").toDouble, a("trace") == "1",
          a("cores").toInt, a("data"), a("scratch"), conf)
        require(!ctx.workloadConf.isMissingNode, s"unknown workload '${ctx.workload}'")
        val res = ctx.workloadConf.path("kind").asText() match {
          case "batch"  => Batch.run(ctx)
          case "stream" => Stream.run(ctx)
          case k        => throw new IllegalArgumentException(s"unknown workload kind '$k'")
        }
        val spans = ctx.spans.all.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "layer" -> s.layer, "start_ns" -> s.startNs, "end_ns" -> s.endNs) ++ s.attrs)
        res ++ Map("rss_peak_mb" -> Proc.rssPeakMb(), "spans" -> spans,
          "jobs" -> ctx.jobRecords)
      }
    SparkSession.getActiveSession.foreach(_.stop())
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a("out")), mapper.writeValueAsString(out))
  }

  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText()).toSeq
}
