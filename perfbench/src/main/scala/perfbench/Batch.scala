package perfbench

import graft.{Artifacts, Engine, SparkEntry}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, struct, to_json, xxhash64}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Batch workloads: one client in a closed loop submits the workload's
  * queries one after another, each fully materialized through the `noop`
  * sink before the next is submitted. The seed picks the query order of
  * every pass. Each pass gets its own empty artifact directory, so fits run
  * in every pass instead of only in the first run of a checkout. An untimed
  * warm-up pass, whose results are digested, precedes the one timed pass;
  * one pass per run keeps the sample count, and so the tail percentile, the
  * same in every run. */
object Batch {
  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")
  /** Set-ups per run; the run reports their median. */
  val Setups = 3
  /** The query each set-up runs once, so set-up covers a first query. */
  val WarmupQuery = "q01_project"

  /** Order-independent digest of a result: row count and the wrapping sum of
    * one 64-bit hash per row. A row hashes as the JSON of its columns sorted
    * by name, so the digest ignores row and column order. */
  def digest(df: DataFrame): Map[String, Any] = {
    val idx = df.columns.indices.sortBy(i => (df.columns(i), i))
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val row = to_json(struct(idx.map(i => col(s"c$i").as(df.columns(i))): _*))
    named.select(xxhash64(row)).queryExecution.toRdd.mapPartitions { it =>
      var n = 0L; var h = 0L
      it.foreach { r => n += 1; h += r.getLong(0) }
      Iterator((n, h))
    }.collect().foldLeft((0L, 0L)) { case ((n, h), (m, g)) => (n + m, h + g) } match {
      case (n, h) => Map("rows" -> n, "hash" -> f"$h%016x")
    }
  }

  private def setup(ctx: Ctx, i: Int): (SparkSession, Double) = {
    val t0 = if (i == 0) Proc.jvmStartNs() else Clock.nowNs()
    val spark = ctx.newSession()
    spark.conf.set("spark.graft.artifacts.dir", s"${ctx.scratch}/artifacts/setup$i")
    Tables.foreach(t => Engine.parquetRowCount(spark, s"${ctx.data}/$t.parquet"))
    SparkEntry.queries(WarmupQuery)(spark, ctx.data).write.format("noop").mode("overwrite").save()
    (spark, (Clock.nowNs() - t0) / 1e9)
  }

  def run(ctx: Ctx): Map[String, Any] = {
    val names = Main.strings(ctx.workloadConf.path("queries"))
    val registry = SparkEntry.queries
    val unknown = names.filterNot(registry.contains)
    require(unknown.isEmpty, s"queries not in the registry: ${unknown.mkString(",")}")
    val setups = (0 until Setups).map(setup(ctx, _))
    val spark = setups.last._1
    val sc = spark.sparkContext
    val rnd = new scala.util.Random(ctx.seed)
    val execs = ArrayBuffer.empty[Map[String, Any]]
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val failures = ArrayBuffer.empty[Map[String, Any]]
    val digests = scala.collection.mutable.LinkedHashMap.empty[String, Map[String, Any]]
    // pass -1 warms the JIT and the operators' lazy state; its results are
    // the ones checked against the recorded digests. Pass 0 is timed.
    for (pass <- -1 to 0) {
      val order = rnd.shuffle(names)
      spark.conf.set("spark.graft.artifacts.dir", s"${ctx.scratch}/artifacts/pass$pass")
      val gc0 = Proc.gcMs()
      var queryNs = 0L
      val (_, _, passSpan) = ctx.spans.timed(-1, s"pass$pass", "bench") {
        order.foreach { name =>
          val fits0 = Artifacts.fitCount.get; val fitNs0 = Artifacts.fitNanos.get
          val persisted0 = sc.getPersistentRDDs.keySet.toSet
          try {
            val ((b, p, e), wall, _) = ctx.spans.timed(ctx.spans.current, name, "query") {
              val q = ctx.spans.current
              val (df, b, _) = ctx.spans.timed(q, "build", "queries")(registry(name)(spark, ctx.data))
              val (_, p, _) = ctx.spans.timed(q, "plan", "plans")(df.queryExecution.executedPlan)
              // the warm-up pass materializes each result as its digest
              val (_, e, _) = ctx.spans.timed(q, "exec", "exec")(
                if (pass < 0) digests(name) = digest(df)
                else df.write.format("noop").mode("overwrite").save())
              (b, p, e)
            }
            queryNs += wall
            if (pass >= 0) {
              val ckpt = if (ctx.trace) {
                val fresh = sc.getPersistentRDDs.keySet.toSet -- persisted0
                val bytes = sc.getRDDStorageInfo.filter(r => fresh.contains(r.id)).map(r => r.memSize + r.diskSize).sum
                Map("checkpoints" -> fresh.size, "checkpoint_bytes" -> bytes)
              } else Map.empty
              execs += Map("name" -> name, "pass" -> pass, "build_s" -> b / 1e9, "plan_s" -> p / 1e9,
                "exec_s" -> e / 1e9, "wall_s" -> wall / 1e9, "fits" -> (Artifacts.fitCount.get - fits0),
                "fit_s" -> (Artifacts.fitNanos.get - fitNs0) / 1e9) ++ ckpt
            }
          } catch {
            case scala.util.control.NonFatal(t) =>
              failures += Map("name" -> name, "pass" -> pass, "error" -> t.toString.take(500))
          }
        }
      }
      passes += Map("pass" -> pass, "span" -> passSpan, "query_s" -> queryNs / 1e9,
        "gc_s" -> (Proc.gcMs() - gc0) / 1e3)
    }
    Map("kind" -> "batch", "workload" -> ctx.workload, "seed" -> ctx.seed, "cores" -> ctx.cores,
      "queries" -> names, "setup_s" -> setups.map(_._2), "executions" -> execs.toList,
      "warmup" -> passes.head, "passes" -> passes.tail.toList, "failures" -> failures.toList,
      "digests" -> digests.toMap)
  }

  /** Run each listed query once, keep its result as parquet (for the DuckDB
    * cross-check) and its digest; also export the registry's oracle SQL. */
  def record(dir: String, data: String, scratch: String, conf: com.fasterxml.jackson.databind.JsonNode,
             cores: Int): Map[String, Any] = {
    val spark = graft.Engine.session(s"local[$cores]", cores)
    val names = conf.path("workloads").elements().asScala.toSeq
      .filter(_.path("kind").asText() == "batch")
      .flatMap(w => Main.strings(w.path("queries"))).distinct
    val digests = names.map { name =>
      spark.conf.set("spark.graft.artifacts.dir", s"$scratch/artifacts/$name")
      val df = SparkEntry.queries(name)(spark, data)
      df.write.mode("overwrite").parquet(s"$dir/$name")
      name -> digest(df)
    }.toMap
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "oracle_sql.json"),
      Main.mapper.writeValueAsString(oracle))
    Map("digests" -> digests, "cores" -> cores)
  }
}
