package perfbench

import java.io.File
import java.nio.file.Paths

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.eth.EthPipeline
import graft.eth.EthPipeline.SourceConf

/** One timed public call: an ingest call or one query (build + plan +
  * exec). `items` is blocks landed or 1 per query; `rows` is the query's
  * result row count (-1 for ingest calls). */
final case class Call(name: String, seconds: Double, items: Long, rows: Long)

/** One benchmark workload: set up (repeatable), measure, check. */
abstract class Workload(val work: String) {
  val calls = ArrayBuffer[Call]()
  val failures = ArrayBuffer[String]()
  var checks = 0
  var attempts = 0
  /** One set-up round; a later round replaces an earlier one's state. */
  def setup(spark: SparkSession, traced: Boolean): Unit
  /** Untimed work between set-up and measurement. */
  def prepare(spark: SparkSession): Unit = ()
  def measure(spark: SparkSession, trace: Trace, seconds: Double): Unit
  def check(spark: SparkSession): Unit
  def layers(trace: Trace, cores: Int): Map[String, Double]
  def extra: Map[String, Any] = Map.empty
  def close(): Unit = ()

  protected def expect(ok: Boolean, what: => String): Unit = {
    checks += 1
    if (!ok) failures += what
  }
  /** Run `body`; a throw is recorded as a failure, not propagated. */
  protected def attempt[T](what: String)(body: => T): Option[T] = {
    attempts += 1
    try Some(body) catch { case e: Throwable =>
      failures += s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
      None
    }
  }
}

/** `ingest_rpc_increments`: repeated `resumeAndIngest` calls into one sink,
  * each advancing the chain tip by a fixed increment, fetched over HTTP
  * from the loopback stub by the `graft-rpc` source. Increments start
  * mid-bucket, so every call rewrites the bucket it continues. */
final class RpcIncrements(work: String, seed: Long, cores: Int) extends Workload(work) {
  private val Increment = 250L
  private val MaxCalls = 8
  private val first = 1000L * (1 + Math.floorMod(seed, 89L)) + 100L - Increment  // seeded: [first, start - 1]
  private val start = first + Increment
  private var tip = start - 1
  private val sink = s"$work/sink"
  private val mirror = s"$work/replay"
  private val stub = new RpcStub(cores)
  private var source = SourceConf()
  private val traced = ArrayBuffer[IngestCall]()
  private var mirrored = false

  def setup(spark: SparkSession, traced: Boolean): Unit = {
    stub.stop()
    stub.prerender(first, start - 1 + (MaxCalls + 1) * Increment)  // warm-up + timed calls
    source = SourceConf("graft-rpc", 50L, Map("url" -> stub.start()))
    Seq(sink, mirror).foreach(Ingests.delete)
    mirrored = traced
    EthPipeline.ingestRange(spark, sink, first, start - 1, source)
    if (traced) EthPipeline.ingestRange(spark, mirror, first, start - 1, source)
  }

  /** One untimed increment: the merge path's first call pays its JIT. */
  override def prepare(spark: SparkSession): Unit = {
    tip += Increment
    attempt("warm-up increment") {
      EthPipeline.resumeAndIngest(spark, sink, tip, source)
      if (mirrored) EthPipeline.resumeAndIngest(spark, mirror, tip, source)
    }
  }

  def measure(spark: SparkSession, trace: Trace, seconds: Double): Unit = {
    // the clock counts the timed calls only, so a traced run makes as many
    // calls as an untraced one despite its untimed layer replays
    var elapsed = 0.0
    var i = 0
    while (i == 0 || (i < MaxCalls && elapsed < seconds)) {
      val from = tip + 1
      val to = tip + Increment
      val before = if (trace.traced) Ingests.sinkFiles(sink) else Map.empty[String, Long]
      val rpc0 = stub.snapshot()
      val report = attempt(s"resumeAndIngest #$i") {
        trace.span("ingest", s"increment-$i")(EthPipeline.resumeAndIngest(spark, sink, to, source))
      }
      val span = trace.last
      elapsed += span.seconds
      val rpc1 = stub.snapshot()
      report.foreach { r =>
        calls += Call(s"increment-$i", span.seconds, Increment, -1)
        expect(r.exists(x => x.startBlock == from && x.endBlock == to &&
          x.rowCounts == Ingests.expectedRows(from, to)),
          s"resumeAndIngest #$i to $to reported $r")
        tip = to
      }
      if (trace.traced && report.isDefined) {
        val (files, written, growth) = Ingests.sinkDiff(before, Ingests.sinkFiles(sink))
        val rs = trace.spans.size
        Ingests.replay(spark, trace, source, mirror, from, to, resume = true)
        val replayS = trace.spans.drop(rs).groupBy(_.layer)
          .map { case (l, ss) => l -> ss.map(_.seconds).sum }
        traced += IngestCall(span, Increment,
          rpc1.map { case (k, v) => k -> (v - rpc0.getOrElse(k, 0.0)) },
          files, written, growth, replayS)
      }
      i += 1
    }
  }

  def check(spark: SparkSession): Unit = {
    expect(stub.snapshot()("errors") == 0.0, s"stub answered errors: ${stub.snapshot()}")
    attempt("sink check") {
      // the increments, and one bulk call over the same range from the
      // in-process chain source, must land the same rows, as many as the
      // chain formula gives
      EthPipeline.ingestRange(spark, s"$work/bulk", first, tip)
      val got = Ingests.digests(spark, sink)
      val rows = got.map { case (t, d) => t -> d.takeWhile(_ != ':').toLong }
      expect(rows == Ingests.expectedRows(first, tip), s"sink rows $rows != chain formula")
      expect(got == Ingests.digests(spark, s"$work/bulk"), "increments sink differs from bulk sink")
    }
  }

  def layers(trace: Trace, cores: Int): Map[String, Double] =
    IngestLayers(traced.toSeq, trace.listener.get, cores)

  override def extra: Map[String, Any] =
    Map("range" -> Seq(first, tip), "increment" -> Increment, "rpc" -> stub.snapshot())
  override def close(): Unit = stub.stop()
}

/** `query_mix`: passes over a fixed registry query list in a seeded order;
  * each query timed as build + plan + exec. */
final class QueryMix(work: String, data: String, seed: Long) extends Workload(work) {
  private val order = new scala.util.Random(seed).shuffle(QueryMix.Names)
  private val passWalls = ArrayBuffer[Double]()
  private val checkRows = scala.collection.mutable.Map[String, Long]()

  def setup(spark: SparkSession, traced: Boolean): Unit =
    Seq("lineitem", "documents").foreach(t =>
      graft.queries.Tables(spark, data, t).queryExecution.toRdd.count())

  /** Untimed check pass (also the warm-up): every query's result and
    * oracle SQL written in the layout `tools/check.py` reads, and its row
    * count kept for the timed passes. */
  override def prepare(spark: SparkSession): Unit = {
    order.foreach { name =>
      attempt(s"$name (check pass)") {
        SparkEntry.queries(name)(spark, data).coalesce(1)
          .write.mode("overwrite").parquet(s"$work/out/$name")
        checkRows(name) = spark.read.parquet(s"$work/out/$name").count()
      }
      release(spark)
    }
    Main.writeJson(s"$work/out/oracle_sql.json",
      order.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap)
  }

  private def release(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))

  def measure(spark: SparkSession, trace: Trace, seconds: Double): Unit = {
    // whole passes only, and another only if it still fits in `seconds`:
    // a later pass runs warmer than the first, so a pass that straddles the
    // limit must not change what the run averages over
    while (passWalls.isEmpty || passWalls.sum + passWalls.last <= seconds) {
      val p0 = System.nanoTime()
      order.foreach { name =>
        val rows = attempt(name) {
          trace.span("query", name) {
            val df = trace.span("build", name)(SparkEntry.queries(name)(spark, data))
            trace.span("plan", name)(df.queryExecution.executedPlan)
            trace.span("exec", name)(df.queryExecution.toRdd.count())
          }
        }
        rows.foreach { n =>
          calls += Call(name, trace.last.seconds, 1, n)
          expect(checkRows.get(name).contains(n),
            s"$name: timed pass returned $n rows, check pass ${checkRows.get(name)}")
        }
        release(spark)
      }
      passWalls += (System.nanoTime() - p0) / 1e9
    }
  }

  def check(spark: SparkSession): Unit = ()

  def layers(trace: Trace, cores: Int): Map[String, Double] = {
    val l = trace.listener.get
    val passes = passWalls.size.toDouble
    def total(layer: String): Double = trace.ofLayer(layer).map(_.seconds).sum / passes
    def counts(layer: String): Seq[SparkCounts] = trace.ofLayer(layer).map(s => l(s.id))
    val all = Seq("build", "plan", "exec").flatMap(counts)
    val taskS = all.map(_.taskNs.sum).sum / 1e9 / passes
    val wall = passWalls.sum / passes
    Map(
      "query.pass_wall_s" -> wall,
      "query.build_s" -> total("build"),
      "query.plan_s" -> total("plan"),
      "query.exec_s" -> total("exec"),
      "query.jobs_build" -> counts("build").map(_.jobs.sum).sum / passes,
      "query.jobs_exec" -> counts("exec").map(_.jobs.sum).sum / passes,
      "query.task_s" -> taskS,
      "query.core_util" -> taskS / (wall * cores),
      "query.max_task_s" -> (if (all.isEmpty) 0.0 else all.map(_.maxTaskNs.get).max / 1e9),
      "query.shuffle_bytes" -> all.map(_.shuffleBytes.sum).sum / passes,
      "query.input_bytes" -> all.map(_.inputBytes.sum).sum / passes,
      "query.spill_bytes" -> all.map(_.spillBytes.sum).sum / passes)
  }

  override def extra: Map[String, Any] = Map("order" -> order, "pass_walls_s" -> passWalls.toSeq)
}

object QueryMix {
  /** Two job-heavy iterative operators, two compute-bound ones, two
    * TPC-H-style scans and joins, an eth analytic and an LLM-data pipeline. */
  val Names: Seq[String] = Seq(
    "graph_components", "text_classifier_eval",
    "dedup_jaccard_prefix", "agg_weighted_median",
    "tpch_q3_shipping", "tpch_q13_custdist",
    "eth_address_stats", "llm_corpus_pipeline")
}

object Main {
  val SetupRounds = 3

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath.toString
    val cores = a("cores").toInt
    val w: Workload = workload match {
      case "ingest_rpc_increments" => new RpcIncrements(work, seed, cores)
      case "query_mix" => new QueryMix(work, a("data"), seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    var spark: SparkSession = null
    val setupS = (1 to SetupRounds).map { _ =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(cores, work)
      val t1 = System.nanoTime()
      w.setup(spark, traced)
      val t2 = System.nanoTime()
      System.err.println(f"[perfbench] set-up round: session ${(t1 - t0) / 1e9}%.2f s, workload ${(t2 - t1) / 1e9}%.2f s")
      (t2 - t0) / 1e9
    }
    val trace = new Trace(spark.sparkContext, traced)
    val c0 = System.nanoTime()
    w.prepare(spark)
    val prepareS = (System.nanoTime() - c0) / 1e9
    val m0 = System.nanoTime()
    w.measure(spark, trace, seconds)
    val measureS = (System.nanoTime() - m0) / 1e9
    val k0 = System.nanoTime()
    w.check(spark)
    val checkS = (System.nanoTime() - k0) / 1e9
    trace.listener.foreach(_.settle())
    val layers = if (traced) w.layers(trace, cores) else Map.empty[String, Double]
    val result = Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cores, "traced" -> traced,
      "setup_rounds_s" -> setupS, "prepare_s" -> prepareS, "measure_s" -> measureS,
      "check_s" -> checkS, "checks" -> w.checks, "attempts" -> w.attempts, "failures" -> w.failures.toSeq,
      "calls" -> w.calls.toSeq.map(c => Map("name" -> c.name, "seconds" -> c.seconds,
        "items" -> c.items, "rows" -> c.rows)),
      "layers" -> layers, "peak_rss_mb" -> peakRssMb()) ++ w.extra
    writeJson(s"$work/result.json", result)
    if (traced) writeJson(s"$work/spans.json", trace.spans.toSeq.map { s =>
      val c = trace.listener.get(s.id)
      Map("id" -> s.id, "layer" -> s.layer, "name" -> s.name, "parent" -> s.parent.orNull,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "jobs" -> c.jobs.sum,
        "stages" -> c.stages.sum, "tasks" -> c.tasks.sum, "task_ns" -> c.taskNs.sum,
        "max_task_ns" -> c.maxTaskNs.get, "shuffle_bytes" -> c.shuffleBytes.sum,
        "input_bytes" -> c.inputBytes.sum, "spill_bytes" -> c.spillBytes.sum)
    })
    spark.stop()
    w.close()
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def writeJson(path: String, value: Any): Unit = mapper.writeValue(new File(path), value)
}
