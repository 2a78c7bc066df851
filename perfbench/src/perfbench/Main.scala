package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{GraftSession, Store, Types}
import graft.runtime.Lineage
import graft.temporal.Windows

/** One measured call: `latency_s` covers the program's work only; the
  * output check that follows it is not timed. `obs` holds what the check
  * compares (digests, row counts). */
final case class OpRecord(phase: String, key: String, latencyS: Double, rows: Long,
    obs: Map[String, Any], error: Option[String] = None) {
  def json: String = Json(Map("kind" -> "op", "phase" -> phase, "key" -> key,
    "latency_s" -> latencyS, "rows" -> rows, "obs" -> obs, "error" -> error))
}

/** A closed-loop workload: the driver thread issues the next op only after
  * the previous one returned. */
trait Workload {
  /** (Re)generates and caches the inputs in the current session. */
  def buildInputs(spark: SparkSession): Unit
  /** The discarded warm-up before the window. */
  def warmup(spark: SparkSession): Seq[OpRecord]
  /** The i-th timed op of the window. */
  def op(spark: SparkSession, i: Int): OpRecord
  /** True when a window may end after `done` ops. */
  def canStop(done: Int): Boolean
  /** Ops per unit of work: one op, or one pass of the sweep. `cache_left`
    * and the `*.queries` span metrics are per unit. */
  def opsPerUnit: Int = 1
  /** One untraced unit of work (an op, or a pass for the sweep) on the
    * given session, for `trace_overhead` and `scaling_eff`. */
  def probe(spark: SparkSession, phase: String): Seq[OpRecord]
}

object Main {
  private def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = GraftSession.builder(cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Runs `body`, turning an exception into an errored record. */
  def guarded(phase: String, key: String)(body: => OpRecord): OpRecord =
    try body
    catch { case e: Throwable => OpRecord(phase, key, 0.0, 0L, Map.empty, Some(e.toString.take(500))) }

  def persistentRdds(spark: SparkSession): Int = spark.sparkContext.getPersistentRDDs.size

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val seed = a("seed").toLong
    val window = a("seconds").toDouble
    val traced = a("trace") == "1"
    val smoke = a("size") == "smoke"
    val work = a("work")
    val out = new java.io.PrintWriter(a("out"), "UTF-8")
    def emit(line: String): Unit = { out.println(line); out.flush() }

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    var spark = session(4, work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val w: Workload = a("workload") match {
      case "pit_features" =>
        new PitFeatures(seed, if (smoke) 20000L else 400000L, work)
      case "query_sweep" =>
        new QuerySweep(seed, s"$work/tables", a("queries").split(',').toSeq.map { q =>
          val Array(name, layer) = q.split(':'); name -> layer })
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    try {
      val inputsS = (0 until 3).map(_ => seconds(w.buildInputs(spark)))
      val warm = w.warmup(spark)
      warm.foreach(r => emit(r.json))
      emit(Json(Map("kind" -> "setup", "session_s" -> sessionS, "inputs_s" -> inputsS,
        "warmup_s" -> warm.map(_.latencyS).sum)))

      if (traced) Trace.start(spark.sparkContext)
      val cacheBefore = persistentRdds(spark)
      val fromMs = System.currentTimeMillis()
      val timed = scala.collection.mutable.ArrayBuffer.empty[OpRecord]
      var clock = 0.0
      var cacheLeft = 0
      while (clock < window || !w.canStop(timed.size)) {
        val r = w.op(spark, timed.size)
        timed += r
        if (timed.size == w.opsPerUnit) cacheLeft = persistentRdds(spark) - cacheBefore
        emit(r.json)
        clock += r.latencyS
        if (timed.count(_.error.isDefined) > 3) clock = Double.MaxValue
      }
      val toMs = System.currentTimeMillis()

      if (traced) {
        val units = math.max(1, timed.size / w.opsPerUnit).toDouble
        val perRun = Trace.windowStats(fromMs, toMs) ++ Map(
          "peak_cache_mb" -> Trace.peakCacheMb, "cache_left" -> cacheLeft.toDouble)
        val plain = Trace.paused(w.probe(spark, "untraced"))
        Trace.drain()
        // Span aggregates over the window: the mean per call, except the
        // per-layer query spans, which sum over a pass.
        val spanMetrics = Trace.spans.filter(s => s.name != Trace.check && s.startMs >= fromMs && s.endMs <= toMs)
          .groupBy(_.name).toSeq.flatMap { case (name, ss) =>
            val stats = ss.map(Trace.spanStats)
            val div = if (name.endsWith(".queries")) units else ss.size.toDouble
            Seq("wall_s", "jobs", "task_s", "driver_s", "shuffle_mb").map(k => s"$name.$k" -> stats.map(_(k)).sum / div)
          }.toMap
        val spanJson = Trace.spanRecords
        Trace.stop()
        spark.stop()
        spark = session(1, work)
        w.buildInputs(spark)
        val one = w.probe(spark, "local1")
        (plain ++ one).foreach(r => emit(r.json))
        val lat4 = plain.map(_.latencyS).sum
        val extras = Map(
          "trace_overhead" -> timed.map(_.latencyS).sum / units / lat4,
          "scaling_eff" -> one.map(_.latencyS).sum / (4 * lat4))
        emit(Json(Map("kind" -> "trace", "metrics" -> (spanMetrics ++ perRun ++ extras), "spans" -> spanJson)))
      }
    } catch {
      case e: Throwable =>
        emit(Json(Map("kind" -> "fatal", "error" -> e.toString.take(2000))))
        throw e
    } finally {
      Trace.stop()
      spark.stop()
      out.close()
    }
  }
}

/** Point-in-time feature vectors: `Types.featureVectors` over seeded
  * `PagesGen` pages and labels, written with `Store.writeFeatures`. */
final class PitFeatures(seed: Long, nPages: Long, work: String) extends Workload {
  private val out = s"$work/features"
  def canStop(done: Int): Boolean = done >= 1

  /** `nPages / scale` pages over a tenth as many urls, and a tenth as many
    * labels, as in `Bench.featurePipeline`. */
  private def pages(spark: SparkSession, scale: Long = 1) =
    Types.pages(spark, nPages / scale, nPages / 10 / scale, seed.toInt)
  private def labels(spark: SparkSession, scale: Long = 1) =
    Types.labels(spark, nPages / 10 / scale, nPages / 10 / scale, seed.toInt)
  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The inputs are lazy `PagesGen` plans; generation runs inside each op. */
  def buildInputs(spark: SparkSession): Unit = { pages(spark); labels(spark); () }

  /** The window-feature prefix of `Types.featureVectors`: the same calls in
    * the same order, stopping before the as-of join. */
  private def windowed(spark: SparkSession): DataFrame = {
    val slim = pages(spark).select(
      col("url"), col("warc_ts"), length(col("text")).as("text_len0"), col("lang"))
    Windows.dedupByLag(slim, "url", "warc_ts", Seq(col("lang"))).select(
      col("url"), col("warc_ts"),
      col("text_len0").cast("double").as("text_len"),
      Windows.sessionId("url", "warc_ts", 7 * 86400).cast("double").as("session_id"),
      lag(col("text_len0"), 1).over(Windows.byKey("url", "warc_ts")).cast("double").as("prev_text_len"),
      Windows.rollingCount("url", "warc_ts", 7 * 86400).cast("double").as("revisits_7d"),
      Windows.revisitIndex("url", "warc_ts").cast("double").as("visit_no"))
  }

  private def run(spark: SparkSession, phase: String): OpRecord = Main.guarded(phase, "features") {
    val t0 = System.nanoTime()
    val fv = Types.featureVectors(spark, pages(spark), labels(spark)).toDF()
    Trace.scope("core.Store.writeFeatures")(Store.writeFeatures(fv, out))
    val lat = (System.nanoTime() - t0) / 1e9
    Trace.scope(Trace.check) {
      val stored = spark.read.parquet(out)
      OpRecord(phase, "features", lat, stored.count(), Map("digest" -> Lineage.contentDigest(stored)))
    }
  }

  /** Two ops at 1/8 scale, then one full op: one cold op leaves the driver
    * code still compiling, and the next two full ops ran up to 1.5x slower
    * than the steady state. The small ops are timed but not checked. */
  def warmup(spark: SparkSession): Seq[OpRecord] = {
    val small = (0 until 2).map { _ =>
      val t0 = System.nanoTime()
      Store.writeFeatures(Types.featureVectors(spark, pages(spark, 8), labels(spark, 8)).toDF(), out)
      (System.nanoTime() - t0) / 1e9
    }
    val full = run(spark, "warmup")
    Seq(full.copy(latencyS = full.latencyS + small.sum))
  }

  def op(spark: SparkSession, i: Int): OpRecord = {
    if (Trace.enabled) {
      Trace.scope("core.PagesGen.pages")(noop(pages(spark).toDF()))
      Trace.scope("temporal.Windows")(noop(windowed(spark)))
      Trace.scope("temporal.AsOf.sortMerge")(noop(Types.featureVectors(spark, pages(spark), labels(spark)).toDF()))
    }
    run(spark, "timed")
  }

  def probe(spark: SparkSession, phase: String): Seq[OpRecord] = Seq(run(spark, phase))
}

/** A shuffled pass over registered `SparkEntry.queries`, one op per query,
  * each materialized with `count()` over the seeded tables. */
final class QuerySweep(seed: Long, dir: String, queries: Seq[(String, String)]) extends Workload {
  private val registry = graft.SparkEntry.queries
  private val rng = new scala.util.Random(seed)
  private var order: Seq[(String, String)] = Nil
  def canStop(done: Int): Boolean = done > 0 && done % queries.size == 0
  override def opsPerUnit: Int = queries.size

  def buildInputs(spark: SparkSession): Unit = Inputs.writeQueryTables(spark, dir, seed)

  private def run(spark: SparkSession, name: String, layer: String, phase: String, digest: Boolean): OpRecord =
    Main.guarded(phase, name) {
      val t0 = System.nanoTime()
      val n = Trace.scope(s"$layer.queries")(registry(name)(spark, dir).count())
      val lat = (System.nanoTime() - t0) / 1e9
      val obs: Map[String, Any] =
        if (digest) Trace.scope(Trace.check)(Map("digest" -> Lineage.contentDigest(registry(name)(spark, dir))))
        else Map.empty
      OpRecord(phase, name, lat, n, obs)
    }

  private def pass(spark: SparkSession, phase: String, digest: Boolean): Seq[OpRecord] =
    rng.shuffle(queries).map { case (q, l) => run(spark, q, l, phase, digest) }

  def warmup(spark: SparkSession): Seq[OpRecord] = pass(spark, "warmup", digest = true)

  def op(spark: SparkSession, i: Int): OpRecord = {
    if (i % queries.size == 0) order = rng.shuffle(queries)
    val (q, l) = order(i % queries.size)
    run(spark, q, l, "timed", digest = false)
  }

  def probe(spark: SparkSession, phase: String): Seq[OpRecord] = pass(spark, phase, digest = false)
}
