package graftbench

import java.io.FileInputStream
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.Properties

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SessionMemo, Sessions, SparkEntry, Tables}

/** Benchmark harness process: drives graft only through its public
  * entry points (`Sessions.builder`, the `SparkEntry.queries`
  * registry, `SessionMemo`) and writes raw measurements as one JSON
  * file. `perfbench/run.py` turns them into metrics.
  *
  * Usage: `graftbench.Main <config.properties>`. Keys:
  *  - `corpus`    corpus directory (parquet tables)
  *  - `orders`    one comma-separated query order per pass, `;` between
  *  - `cores`     `local[cores]`
  *  - `warmup_passes` untimed passes before the measured ones
  *  - `seconds`   measuring time; whole passes run until it is used
  *  - `trace`     `1`: alternate untraced and traced passes
  *  - `check_dir` where the untimed output check dumps each query
  *  - `out`       raw-measurement JSON; `trace_out` span file
  *
  * Load model: one client, closed loop. Each query runs to completion
  * through the `noop` sink before the next is issued, and every pass
  * starts from `SessionMemo.clear`, so it repays its family builds.
  */
object Main {
  private val NoopFormat = "noop"

  def main(args: Array[String]): Unit = {
    val conf = new Properties()
    val in = new FileInputStream(args(0))
    try conf.load(in) finally in.close()
    def get(k: String): String = Option(conf.getProperty(k))
      .getOrElse(throw new IllegalArgumentException(s"config key $k missing"))
    val corpus = get("corpus")
    val registry = SparkEntry.queries
    val orders = get("orders").split(";").toSeq.map(_.split(",").toSeq)
    val order = orders.head
    val cores = get("cores").toInt
    val warmupPasses = get("warmup_passes").toInt
    val seconds = get("seconds").toDouble
    val traced = get("trace") == "1"
    val unknown = order.filterNot(registry.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")

    val out = new Json
    out.raw("modules", Json.strMap(order.map(q => q -> owner(q)).toMap))
    val processStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    // ── Set-up, timed from process start: bring-up, corpus, warm-up ─
    val ts = nowS()
    val spark = Sessions.builder(cores)
      .config("spark.local.dir", get("local_dir"))
      .config("spark.sql.warehouse.dir", get("warehouse_dir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tr = nowS()
    registerCorpus(spark, corpus)
    val tw = nowS()
    warmUp(spark, corpus)
    val te = nowS()
    out.raw("setup", Json.obj(Map("setup_s" -> (te - processStartMs / 1e3),
      "jvm_s" -> (ts - processStartMs / 1e3), "session_s" -> (tr - ts),
      "register_s" -> (tw - tr), "warmup_s" -> (te - tw))))

    // ── Untimed output check: dump each query like graft.Verify ────
    val checkDir = get("check_dir")
    val checkErrors = order.sorted.flatMap { name =>
      try {
        registry(name)(spark, corpus).coalesce(1).write.mode("overwrite")
          .parquet(s"$checkDir/$name")
        None
      } catch { case e: Throwable => Some(name -> message(e)) }
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => order.contains(k) }
    Files.write(Paths.get(checkDir, "oracle_sql.json"),
      Json.strMap(oracle).getBytes(StandardCharsets.UTF_8))
    out.raw("check_errors", Json.strMap(checkErrors.toMap))
    SessionMemo.clear(spark)
    SessionMemo.drainAttribution()

    // ── Warm-up passes, untimed ─────────────────────────────────────
    // A fixed number, so every run starts measuring after the same
    // amount of work whatever the host's speed; they count in no metric.
    val warmup = (0 until warmupPasses).map { i =>
      runPass(spark, corpus, orders(i % orders.size), registry, None)
    }
    out.arr("warmup_passes", warmup)

    // ── Measured passes ─────────────────────────────────────────────
    // Whole passes until `seconds` is used, at least two, in the same
    // seeded orders as the warm-up; run.py takes medians over them. A
    // traced run alternates pairs of untraced and traced passes
    // (U U T T U U ...), so each kind runs both orders of a pair (a
    // reversed pass runs faster), and ends on an untraced pair, so JIT
    // warm-up weighs on both sides of the overhead ratio.
    val passes = ArrayBuffer.empty[String]
    val tracer = if (traced) Some(new Tracer(spark, cores, corpus)) else None
    val end = nowS() + seconds
    do {
      val t = if (passes.size / 2 % 2 == 1) tracer else None
      t.foreach(_.attach())
      passes += runPass(spark, corpus, orders(passes.size % orders.size), registry, t)
      t.foreach(_.detach())
    } while (nowS() < end || passes.size < 2 ||
      (traced && (passes.size < 6 || passes.size % 4 != 2)))
    tracer.foreach { t =>
      Files.write(Paths.get(get("trace_out")), t.spansJson.getBytes(StandardCharsets.UTF_8))
      out.raw("layers", t.layersJson)
    }
    out.arr("passes", passes.toSeq)
    out.raw("gauges", Json.obj(SessionMemo.gaugeSnapshot()))
    spark.stop()
    Files.write(Paths.get(get("out")), out.render.getBytes(StandardCharsets.UTF_8))
  }

  /** One closed-loop pass in the given order; memo state starts clean. */
  private def runPass(spark: SparkSession, corpus: String, order: Seq[String],
      registry: Map[String, (SparkSession, String) => DataFrame],
      tracer: Option[Tracer]): String = {
    SessionMemo.clear(spark)
    if (tracer.isEmpty) SessionMemo.drainAttribution()
    tracer.foreach(_.passStart())
    val cpu0 = processCpuS()
    val rows = order.map { name =>
      tracer.foreach(_.queryStart(name))
      val t0 = nowS()
      var t1 = t0
      val err = try {
        SessionMemo.attributing(name) {
          val df = registry(name)(spark, corpus)
          t1 = nowS()
          tracer.foreach(_.built(df))
          df.write.mode("overwrite").format(NoopFormat).save()
        }
        None
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: ${message(e)}")
        Some(message(e))
      }
      val t2 = nowS()
      tracer.foreach(_.queryEnd(t1, t2))
      val row = Json.obj(Map("wall_s" -> (t2 - t0), "build_s" -> (t1 - t0)))
      s"""{"name":${Json.str(name)},"error":${err.map(Json.str).getOrElse("null")},""" +
        row.drop(1)
    }
    val cpu = processCpuS() - cpu0
    val memo = (tracer match {
      case Some(t) => t.memoEvents()
      case None => SessionMemo.drainAttribution()
    }).map { case (q, k, b, s) =>
      s"[${Json.str(q)},${Json.str(k)},$b,${Json.num(s)}]" }
    s"""{"traced":${tracer.isDefined},"cpu_s":${Json.num(cpu)},""" +
      s""""queries":${rows.mkString("[", ",", "]")},"memo":${memo.mkString("[", ",", "]")}}"""
  }

  /** The module whose `queries` registry declares `name`. */
  private def owner(name: String): String = Seq(
    "operators.Payroll" -> graft.operators.Payroll.queries,
    "operators.Relational" -> graft.operators.Relational.queries,
    "operators.AsOf" -> graft.operators.AsOf.queries,
    "streaming.Events" -> graft.streaming.Events.queries,
    "sources.v2.SeriesQueries" -> graft.sources.v2.SeriesQueries.queries,
    "sources.Ingest" -> graft.sources.Ingest.queries,
    "sources.Layout" -> graft.sources.Layout.queries,
    "ext.Text" -> graft.ext.Text.queries,
    "ext.Dedup" -> graft.ext.Dedup.queries,
    "ext.Similarity" -> graft.ext.Similarity.queries,
    "ext.Curation" -> graft.ext.Curation.queries,
    "ext.Multimodal" -> graft.ext.Multimodal.queries,
  ).collectFirst { case (m, qs) if qs.contains(name) => m }.getOrElse("unknown")

  /** Resolve every corpus table's schema once per session. */
  private def registerCorpus(spark: SparkSession, corpus: String): Unit =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$corpus/$t.parquet").createOrReplaceTempView(t)
    }

  /** Bring-up of the paths every measured query reuses (parquet scan,
    * codegen, broadcast and shuffled-hash joins, windows), on a
    * 1k-row slice; the same shape as `graft.Bench`'s warm-up. */
  private def warmUp(spark: SparkSession, corpus: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val n = Tables.nation(spark, corpus)
    val li = Tables.lineitem(spark, corpus).limit(1000)
    li.join(broadcast(n), li("l_suppkey") % 25 === n("n_nationkey"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("n_regionkey").orderBy("l_orderkey")))
      .groupBy("n_name")
      .agg(sum(col("l_extendedprice").cast("decimal(25,8)")), count(lit(1)))
      .write.mode("overwrite").format(NoopFormat).save()
    val k = li.select((col("l_orderkey") % 97).as("k"), col("l_partkey"))
    k.join(k.hint("shuffle_hash"), Seq("k"))
      .groupBy("k").agg(count(lit(1)))
      .write.mode("overwrite").format(NoopFormat).save()
  }

  private[graftbench] def nowS(): Double = System.nanoTime() / 1e9 + NanoOffsetS
  /** Shifts `nanoTime` onto the epoch, so harness times and Spark
    * listener timestamps (epoch milliseconds) share one clock. */
  private val NanoOffsetS = System.currentTimeMillis() / 1e3 - System.nanoTime() / 1e9

  private def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  private def message(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
}
