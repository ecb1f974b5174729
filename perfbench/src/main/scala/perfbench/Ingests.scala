package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.eth.{Enrich, EthPipeline, EthTransforms, Ingest, Sinks}
import graft.eth.EthPipeline.SourceConf

/** Ingest helpers of the `ingest_rpc_increments` workload: chain formulas,
  * sink digests and listings, and the traced layer replay. */
object Ingests {
  val Tables: Seq[String] = Seq("transaction", "block", "log", "trace")
  val Streams: Seq[String] = Seq("block", "transaction", "receipt", "log", "trace")
  val SortKeys: Map[String, Seq[String]] = Map(
    "block" -> Seq("block_id"),
    "transaction" -> Seq("block_id", "transaction_index"),
    "log" -> Seq("block_id", "topic0", "log_index"),
    "trace" -> Seq("block_id", "trace_index"))

  /** Rows the synthetic chain holds for `[lo, hi]`, per table: block b
    * carries b % 3 + 1 transactions, two logs per transaction, and one
    * trace per transaction plus the block reward. */
  def expectedRows(lo: Long, hi: Long): Map[String, Long] = {
    val txs = (lo to hi).map(b => b % 3 + 1).sum
    Map("block" -> (hi - lo + 1), "transaction" -> txs,
      "log" -> 2 * txs, "trace" -> (txs + hi - lo + 1))
  }

  def digests(spark: SparkSession, sink: String): Map[String, String] =
    Tables.map(t => t -> Digest(spark.read.parquet(s"$sink/$t"))).toMap

  def delete(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).iterator.asScala.toSeq.reverse.foreach(f => Files.delete(f))
  }

  /** Parquet data files of the four tables: path -> bytes. */
  def sinkFiles(sink: String): Map[String, Long] =
    Tables.flatMap { t =>
      val p = Paths.get(sink, t)
      if (!Files.exists(p)) Nil
      else Files.walk(p).iterator.asScala
        .filter(f => f.toString.endsWith(".parquet"))
        .map(f => f.toString -> Files.size(f)).toSeq
    }.toMap

  /** Files one call left behind: (files written, bytes written, growth in
    * live bytes). Spark names every output file uniquely, so a rewritten
    * bucket shows up as new paths. */
  def sinkDiff(before: Map[String, Long], after: Map[String, Long]): (Long, Long, Long) = {
    val written = after.filter { case (p, _) => !before.contains(p) }
    (written.size.toLong, written.values.sum, after.values.sum - before.values.sum)
  }

  private def read(spark: SparkSession, source: SourceConf, stream: String,
                   lo: Long, hi: Long): DataFrame =
    source.options.foldLeft(spark.read.format(source.format)
      .option("stream", stream).option("start", lo).option("end", hi)
      .option("batchSize", source.batchSize)) { case (r, (k, v)) => r.option(k, v) }
      .load()

  /** Traced runs only: the ingest of `[lo, hi]` replayed one layer at a
    * time through the layers' public functions, each layer's output pinned
    * so the next span times only its own layer. Writes into `sink`, which
    * the caller keeps in the same state as the real sink.
    *
    * The replay times each layer function in isolation; it does not follow
    * how `EthPipeline` orchestrates them. Pinning fetches each stream once,
    * where the real call reads some streams more than once, and the replay
    * writes the tables one after the other, where the real call writes three
    * of them concurrently. A change to that orchestration shows in the `rpc.*`
    * counts and `ingest.unaccounted_s`, not in these layer times. */
  def replay(spark: SparkSession, trace: Trace, source: SourceConf, sink: String,
             lo: Long, hi: Long, resume: Boolean): Unit = {
    if (resume) trace.span("resume", "max_block") {
      Ingest.maxIngestedBlock(spark.read.parquet(s"$sink/block"))
    }
    val raw = Streams.map(s => s -> trace.span("source", s) {
      read(spark, source, s, lo, hi).localCheckpoint()
    }).toMap
    // the receipt side as EthPipeline builds it (its helper is private)
    val receipts = raw("receipt").drop("type").select(col("transaction_hash"),
      col("cumulative_gas_used").as("receipt_cumulative_gas_used"),
      col("gas_used").as("receipt_gas_used"),
      col("contract_address").as("receipt_contract_address"),
      col("status").as("receipt_status")).dropDuplicates("transaction_hash")
    val j1Obs = new Observation()
    val formatted = Map("transaction" -> trace.span("enrich", "transaction") {
      val enriched = EthTransforms.formatTransactions(Enrich.withBlockTimestamp(
        Enrich.enrichTransactions(raw("transaction"), receipts, txHashCol = "hash",
          requireReceipt = false, missingObs = Some(j1Obs), checkDuplicates = false),
        raw("block").select(col("number").as("block_number"), col("timestamp")),
        blockIdCol = "block_number"))
        .withColumn("block_id_group", graft.functions.ColumnFns.blockIdGroup(col("block_id")))
        .localCheckpoint()
      Enrich.assertNoMissingReceipts(j1Obs)
      enriched
    }) ++ Seq(
      "block" -> (EthTransforms.formatBlocks(_: DataFrame)),
      "log" -> (EthTransforms.formatLogs(_: DataFrame)),
      "trace" -> (EthTransforms.formatTraces(_: DataFrame))).map { case (t, f) =>
      t -> trace.span("format", t)(f(raw(t)).localCheckpoint())
    }
    val buckets = Some((lo / 1000L to hi / 1000L).toIndexedSeq)
    Tables.foreach(t => trace.span("sink", t) {
      Sinks.upsertBucketedParquet(formatted(t), s"$sink/$t", pkCols = SortKeys(t),
        sortCols = SortKeys(t), newBuckets = buckets)
    })
    trace.span("sink", "configuration") {
      Ingest.configuration(spark).write.mode("overwrite").parquet(s"$sink/configuration")
    }
    Tables.foreach(t => trace.span("readback", t) {
      spark.read.parquet(s"$sink/$t").filter(col("block_id").between(lo, hi)).count()
    })
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  val ReplayLayers: Seq[String] = Seq("resume", "source", "enrich", "format", "sink", "readback")
}

/** Per-call record of a real ingest call, kept for the traced metrics. */
final case class IngestCall(span: Span, blocks: Long, rpc: Map[String, Double],
                            files: Long, bytesWritten: Long, growth: Long,
                            replayS: Map[String, Double])

/** Aggregates the traced ingest calls into the per-layer metrics. */
object IngestLayers {
  def apply(calls: Seq[IngestCall], listener: SpanListener, cores: Int): Map[String, Double] = {
    val n = calls.size.toDouble
    val blocks = calls.map(_.blocks).sum.toDouble
    def rpc(k: String): Double = calls.map(_.rpc.getOrElse(k, 0.0)).sum
    def mean(f: IngestCall => Double): Double = calls.map(f).sum / n
    def layer(l: String): Double = mean(_.replayS.getOrElse(l, 0.0))
    val counts = calls.map(c => listener(c.span.id))
    val jobs = counts.map(_.jobs.sum).sum.toDouble
    val taskS = counts.map(_.taskNs.sum).sum / 1e9
    val wall = calls.map(_.span.seconds).sum
    val methods = Seq("eth_getBlockByNumber", "eth_getBlockReceipts", "trace_block")
    Map(
      "rpc.calls_per_block" -> methods.map(m => rpc(s"calls.$m")).sum / blocks,
      "rpc.posts" -> rpc("posts") / n,
      "rpc.bytes_per_block" -> rpc("bytes_out") / blocks,
      "rpc.stub_busy_s" -> rpc("busy_s") / n,
      "rpc.errors" -> rpc("errors"),
      "source.scan_s" -> layer("source"),
      "enrich.s" -> layer("enrich"),
      "format.s" -> layer("format"),
      "sink.write_s" -> layer("sink"),
      "sink.files_written" -> mean(_.files.toDouble),
      "sink.bytes_per_block" -> calls.map(_.bytesWritten).sum / blocks,
      "sink.write_amplification" ->
        calls.map(_.bytesWritten).sum.toDouble / math.max(1L, calls.map(_.growth).sum),
      "readback.s" -> layer("readback"),
      "resume.s" -> layer("resume"),
      "ingest.jobs" -> jobs / n,
      "ingest.task_s" -> taskS / n,
      "ingest.core_util" -> taskS / (wall * cores),
      "ingest.wall_per_job_ms" -> 1000.0 * wall / math.max(1.0, jobs),
      "ingest.unaccounted_s" ->
        mean(c => c.span.seconds - Ingests.ReplayLayers.map(c.replayS.getOrElse(_, 0.0)).sum),
    ) ++ methods.map(m => s"rpc.calls.$m" -> rpc(s"calls.$m") / n)
  }
}
