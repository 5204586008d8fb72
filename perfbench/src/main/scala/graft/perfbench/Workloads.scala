package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.{DocSink, IO, Schemas}
import graft.core.Transports.{FileSink, OpenSearchTransport}
import graft.jobs.{FtsAsoJobs, JobRunner}
import graft.llmops.{CorpusRelease, DedupClusters, LanguageModel, TextOps}
import graft.streaming.Streams

/** What one operation consumed and produced. */
final case class OpResult(rows: Long, inBytes: Long, outBytes: Long)

/** Per-layer counters a workload records at its layer boundaries. */
final class Counters {
  private val m = mutable.LinkedHashMap[String, Double]()
  def add(k: String, v: Double): Unit = m(k) = m.getOrElse(k, 0.0) + v
  def set(k: String, v: Double): Unit = m(k) = v
  def apply(k: String): Double = m.getOrElse(k, 0.0)
}

/** A benchmark workload: seeded inputs, one closed-loop operation, and
  * output checks against the generator's ground truth. */
trait Workload {
  /** Operations a measured phase runs: fixed, so a faster program is
    * timed on the same work as a slower one. */
  def ops: Int = 1
  def kind(i: Int): String
  /** Listener counters, set by the harness during traced phases. */
  var bus: Option[SparkCounters] = None
  /** Writes the seeded inputs. Untimed. */
  def generate(): Unit
  /** The warm pass of set-up. */
  def warm(spark: SparkSession): Unit
  /** Starts a measured phase; each phase sees the same inputs. */
  def startPhase(phase: Int): Unit = ()
  def op(spark: SparkSession, i: Int, tr: Tracer, c: Counters): OpResult
  /** Checks the outputs of the phase that just ran; returns the failed
    * checks, keyed by operation kind or [[Workload.AllOps]]. */
  def check(spark: SparkSession, opsRun: Int, c: Counters): Map[String, Seq[String]]
}

object Workload {
  /** Check-failure key that fails every operation of the phase. */
  val AllOps = "*"
  val Names: Seq[String] = Seq("cms_daily", "corpus_release", "admission_stream")

  def apply(name: String, work: Path, seed: Long, scale: Double,
      cores: Int): Workload = name match {
    case "cms_daily" => new CmsDaily(work, seed, scale, cores)
    case "corpus_release" => new CorpusReleaseWorkload(work, seed, scale, cores)
    case "admission_stream" => new AdmissionStream(work, seed, scale)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other'; one of ${Names.mkString(", ")}")
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def parquetOut(df: DataFrame, out: Path): Unit =
    df.write.mode("overwrite").parquet(out.toString)

  /** Data rows of a header CSV output directory. */
  def csvRows(dir: Path): Seq[Map[String, String]] =
    Disk.listFiles(dir).filter(_.getFileName.toString.endsWith(".csv"))
      .flatMap { f =>
        val lines = Files.readAllLines(f, UTF_8).asScala.toSeq
        if (lines.isEmpty) Nil
        else {
          val head = lines.head.split(",", -1).toSeq
          lines.tail.map(l => head.zip(l.split(",", -1).toSeq).toMap)
        }
      }
}

/** The CMS daily cron pass: every CMS-facing job of the registry, one
  * after another, each reading its inputs through `core.IO`. */
final class CmsDaily(work: Path, seed: Long, scale: Double, parts: Int)
    extends Workload {
  import Workload._

  val Jobs: IndexedSeq[String] = IndexedSeq("event_count_by_tier",
    "dataset_popularity", "block_lumis", "rucio_datasets_stats",
    "rucio_not_read_since", "phedex_snapshot", "dbs_phedex",
    "campaign_tier", "condor_cpu_efficiency", "running_cores",
    "crab_unique_users", "stepchain_cpu_eff", "fts_aso_stats",
    "popularity_4streams")
  /** Sink per job; unlisted jobs write header CSV like JobRunner does. */
  private val Sinks = Map("dbs_phedex" -> "parquet",
    "rucio_datasets_stats" -> "docsink")
  override def ops: Int = Jobs.size
  private val WarmShrink = 50
  def kind(i: Int): String = Jobs(i % Jobs.size)

  private val lakeDir = work.resolve("lake")
  private val outDir = work.resolve("out")
  private var lake: CmsLakeData = _
  private var warmLake: CmsLakeData = _

  def generate(): Unit = {
    lake = CmsLake.generate(lakeDir, seed, scale, parts)
    warmLake = CmsLake.generate(work.resolve("warm-lake"), seed + 1,
      scale / WarmShrink, parts)
    lake.tables.values.toSeq.sortBy(-_.bytes).foreach { t =>
      println(f"  ${t.name}%-14s ${t.format}%-5s ${t.rows}%9d rows ${t.bytes / 1e6}%8.2f MB")
    }
  }

  /** Registry input name → lake table. */
  private def tableOf(input: String): String = input match {
    case "access" => "aaa"
    case other => other
  }

  private def schemaOf(table: String) = table match {
    case "aso" => Schemas.aso
    case "fts" => Schemas.ftsEnvelope
    case "cmssw" => Schemas.cmsswPopEnvelope
    case other => JobRunner.inputSchemas(other)
  }

  /** Projects a raw dump onto the columns the registry pipeline takes. */
  private def shape(input: String, df: DataFrame): DataFrame = input match {
    case "access" => df.select(col("data.*"))
    case "fts" => df.select(col("data.job_id"), col("data.src_url"),
      col("data.t_final_transfer_state"), col("data.tr_timestamp_start"),
      col("data.tr_timestamp_complete"),
      col("data.job_metadata.issuer").as("issuer"))
    case "aso" => df.select(FtsAsoJobs.fileName(col("tm_source_lfn"))
      .as("filename"), col("tm_fts_id").as("job_id"),
      col("tm_username").as("aso_user"))
    case "cmssw" => df.select(col("data.file_lfn").as("FILE_LFN"),
      col("data.user_dn").as("USER_DN"), col("data.site_name").as("SITE_NAME"),
      col("data.app_info").as("APP_INFO"))
    case _ => df
  }

  private def read(spark: SparkSession, l: CmsLakeData, input: String,
      tr: Tracer, c: Counters): (DataFrame, Table) = {
    val t = l.tables(tableOf(input))
    val df = tr.span(s"io.read_${t.format}") {
      val raw = t.format match {
        case "csv" => IO.csv(spark, schemaOf(t.name), Seq(t.dir))
        case "json" => IO.json(spark, schemaOf(t.name), Seq(t.dir))
        case "avro" => IO.avro(spark, Seq(t.dir))
      }
      if (tr.enabled) {
        noop(raw)
        c.add("io.read_rows", t.rows.toDouble)
        c.add("io.read_bytes", t.bytes.toDouble)
      }
      raw
    }
    (shape(input, df), t)
  }

  private def runJob(spark: SparkSession, l: CmsLakeData, out: Path,
      job: String, tr: Tracer, c: Counters, bus: Option[SparkCounters])
      : OpResult = {
    val (required, pipeline) = JobRunner.jobs(job)
    val ins = required.map(n => n -> read(spark, l, n, tr, c))
    val result = tr.span("jobs.plan") {
      val df = pipeline(spark, ins.map { case (n, (d, _)) => n -> d }.toMap)
      if (tr.enabled) df.queryExecution.executedPlan
      df
    }
    val dest = out.resolve(job)
    val before = bus.map { b =>
      Bench.drain(spark); (b.jobs, b.shuffleJoins, b.broadcastJoins)
    }
    tr.span("jobs.exec") {
      Sinks.getOrElse(job, "csv") match {
        case "csv" => tr.span("io.write")(IO.writeCsv(result, dest.toString))
        case "parquet" => tr.span("io.write")(parquetOut(result, dest))
        case "docsink" =>
          Disk.rmrf(dest)
          tr.span("docsink.push")(DocSink.push(result,
            new OpenSearchTransport("cms-rucio-datasets",
              new FileSink(dest.toString)), chunkSize = 500))
      }
    }
    val written = Disk.du(dest)
    if (tr.enabled) {
      bus.zip(before).foreach { case (b, (j0, s0, b0)) =>
        Bench.drain(spark)
        c.add("jobs.spark_jobs_per_op", (b.jobs - j0).toDouble)
        c.add("jobs.shuffle_joins", (b.shuffleJoins - s0).toDouble)
        c.add("jobs.broadcast_joins", (b.broadcastJoins - b0).toDouble)
        println(f"  $job%-24s ${b.shuffleJoins - s0} shuffle joins, " +
          s"${b.broadcastJoins - b0} broadcast joins")
      }
      if (Sinks.get(job).contains("docsink")) {
        c.add("docsink.docs", pushedDocs(dest).size.toDouble)
        c.add("docsink.bytes", written.toDouble)
      } else c.add("io.write_bytes", written.toDouble)
    }
    val tables = ins.map(_._2._2).distinct
    OpResult(tables.map(_.rows).sum, tables.map(_.bytes).sum, written)
  }

  /** Runs every job over a lake 1/`WarmShrink` the size, `parts` jobs at
    * a time: loads, JIT-compiles and code-generates each job's path
    * without paying interpreted execution at full size. The broadcast
    * threshold shrinks with the lake, so the warm plans pick the join
    * strategies the full-size plans pick. */
  def warm(spark: SparkSession): Unit = {
    val out = work.resolve("warm-out")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(parts)
    spark.conf.set(Bench.BroadcastConf, Bench.BroadcastThreshold / WarmShrink)
    try {
      Jobs.zipWithIndex.map { case (j, k) =>
        pool.submit(new java.util.concurrent.Callable[OpResult] {
          def call(): OpResult = runJob(spark, warmLake, out.resolve(s"$k"),
            j, new Tracer(false), new Counters, None)
        })
      }.foreach(_.get())
    } finally {
      pool.shutdown()
      spark.conf.set(Bench.BroadcastConf, Bench.BroadcastThreshold)
    }
    Disk.rmrf(out)
  }

  def op(spark: SparkSession, i: Int, tr: Tracer, c: Counters): OpResult =
    runJob(spark, lake, outDir, kind(i), tr, c, bus)

  /** JSON documents in the OpenSearch `_bulk` requests under `dir`. */
  private def pushedDocs(dir: Path): Seq[String] =
    Disk.listFiles(dir).flatMap { f =>
      new String(Files.readAllBytes(f), UTF_8).split('\n').toSeq
        .filter(l => l.startsWith("{") && l != "{\"index\":{}}")
    }

  def check(spark: SparkSession, opsRun: Int, c: Counters)
      : Map[String, Seq[String]] = {
    val fails = mutable.Map[String, Seq[String]]()
    def expect(job: String, what: String, got: Map[String, Long],
        want: Map[String, Long]): Unit = {
      val bad = (got.keySet ++ want.keySet).toSeq.sorted
        .filter(k => got.getOrElse(k, 0L) != want.getOrElse(k, 0L))
      if (bad.nonEmpty)
        fails(job) = Seq(s"$what differs for ${bad.size} keys, e.g. " +
          bad.take(3).map(k => s"$k: got ${got.get(k)} want ${want.get(k)}")
            .mkString("; "))
    }
    val ran = Jobs.take(math.min(opsRun, Jobs.size))
    ran.foreach { job =>
      val dest = outDir.resolve(job)
      val rows = Sinks.getOrElse(job, "csv") match {
        case "csv" => csvRows(dest).size.toLong
        case "parquet" => spark.read.parquet(dest.toString).count()
        case "docsink" => pushedDocs(dest).size.toLong
      }
      if (rows == 0) fails(job) = Seq("empty output")
    }
    if (ran.contains("event_count_by_tier"))
      expect("event_count_by_tier", "events per tier",
        csvRows(outDir.resolve("event_count_by_tier"))
          .map(r => r("tier") -> r("evts").toLong).toMap,
        lake.truth.tierEvents)
    if (ran.contains("dataset_popularity"))
      expect("dataset_popularity", "accesses per dataset",
        csvRows(outDir.resolve("dataset_popularity"))
          .map(r => r("dataset") -> r("nacc").toLong).toMap,
        lake.truth.datasetAccesses)
    if (ran.contains("rucio_datasets_stats")) {
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val got = pushedDocs(outDir.resolve("rucio_datasets_stats"))
        .map(om.readTree)
        .map(n => n.path("dataset").asText() -> n.path("total_bytes").asLong())
        .filter(_._1 != "UNKNOWN")
        .groupMapReduce(_._1)(_._2)(_ + _)
      expect("rucio_datasets_stats", "replica bytes per dataset", got,
        lake.truth.datasetReplicaBytes)
    }
    fails.toMap
  }
}

/** The LLM-data release over a seeded parquet corpus with planted
  * exact and near duplicates. */
final class CorpusReleaseWorkload(work: Path, seed: Long, scale: Double,
    parts: Int) extends Workload {
  import Workload._

  def kind(i: Int): String = "release"
  val RecallFloor = 0.8

  private val outDir = work.resolve("out")
  private var corpus: CorpusData = _
  private var warmCorpus: CorpusData = _

  def generate(): Unit = {
    corpus = Corpus.generate(work.resolve("corpus"), seed,
      math.max(40, (16000 * scale).toInt), parts)
    warmCorpus = Corpus.generate(work.resolve("warm-corpus"), seed + 1,
      math.max(40, (400 * scale).toInt), parts)
  }

  private def release(spark: SparkSession, cd: CorpusData, out: Path,
      tr: Tracer, c: Counters): OpResult = {
    val docs = IO.parquet(spark, Seq(cd.table.dir))
    if (tr.enabled) {
      tr.span("functions.shingle")(noop(
        docs.select(TextOps.shingleHashes(col("text")).as("sh"))))
      tr.span("functions.minhash")(noop(docs.select(call_function(
        "minhash_slots", TextOps.shingleHashes(col("text"))).as("mh"))))
    }
    val held = mutable.ArrayBuffer[DataFrame]()
    def keep(df: DataFrame): (DataFrame, Long) = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      held += p
      (p, p.count())
    }
    try {
      val (kept, _) = tr.span("llmops.exact") {
        keep(docs.join(TextOps.exactKeepers(docs, "doc_id", "text"),
          Seq("doc_id"), "left_semi"))
      }
      tr.span("llmops.waterfall")(parquetOut(
        TextOps.filterWaterfall(kept, "doc_id", "text"), out.resolve("funnel")))
      val (sigs, _) = tr.span("llmops.signatures")(keep(
        TextOps.minhashSignatures(kept, "doc_id", "text")))
      val (cands, nCand) = tr.span("llmops.lsh")(keep(
        TextOps.lshCandidatePairs(sigs, "doc_id")))
      val (verified, nVer) = tr.span("llmops.verify")(keep(
        TextOps.minhashJaccardEstimate(cands, sigs, "doc_id")
          .filter(col("jaccard_est") >= 0.5)))
      tr.span("llmops.keep_list")(parquetOut(DedupClusters.keepList(kept,
        "doc_id", verified, "doc_a", "doc_b"), out.resolve("keep_list")))
      tr.span("llmops.release")(parquetOut(CorpusRelease.summary(docs,
        "doc_id", "text", "source"), out.resolve("summary")))
      c.add("llmops.candidate_pairs", nCand.toDouble)
      c.add("llmops.verified_pairs", nVer.toDouble)
    } finally held.foreach(_.unpersist())
    OpResult(cd.table.rows, cd.table.bytes, Disk.du(out))
  }

  def warm(spark: SparkSession): Unit = {
    release(spark, warmCorpus, work.resolve("warm-out"), new Tracer(false),
      new Counters)
    Disk.rmrf(work.resolve("warm-out"))
  }

  def op(spark: SparkSession, i: Int, tr: Tracer, c: Counters): OpResult =
    release(spark, corpus, outDir, tr, c)

  def check(spark: SparkSession, opsRun: Int, c: Counters)
      : Map[String, Seq[String]] = {
    val errs = mutable.ArrayBuffer[String]()
    val kl = spark.read.parquet(outDir.resolve("keep_list").toString)
      .select(col("doc_id"), col("cluster")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val leaked = corpus.exactIds.filter(kl.contains)
    if (leaked.nonEmpty)
      errs += s"${leaked.size} planted exact duplicates survive exact dedup"
    val dropped = spark.read.parquet(outDir.resolve("summary").toString)
      .agg(sum(col("n_exact_dropped"))).head().getLong(0)
    if (dropped != corpus.exactIds.size)
      errs += s"summary drops $dropped exact duplicates, planted ${corpus.exactIds.size}"
    val found = corpus.nearOf.count { case (near, orig) =>
      kl.get(near).exists(cl => kl.get(orig).contains(cl))
    }
    val recall = found.toDouble / math.max(1, corpus.nearOf.size)
    c.set("llmops.planted_recall", recall)
    if (recall < RecallFloor)
      errs += f"planted near-duplicate recall $recall%.3f below $RecallFloor"
    if (errs.isEmpty) Map.empty else Map("release" -> errs.toSeq)
  }
}

/** Micro-batches admitted one at a time into a growing curated store,
  * with index compaction before the last of every `CompactEvery`
  * batches. A phase commits `CompactEvery` batches. */
final class AdmissionStream(work: Path, seed: Long, scale: Double)
    extends Workload {
  import Workload._

  val CompactEvery = 4
  val MinJac = 0.5
  val MaxDf = 1000
  private val perBatch = math.max(20, (500 * scale).toInt)
  private var batches: IndexedSeq[Batch] = _
  private var warmBatches: IndexedSeq[Batch] = _
  private var model: DataFrame = _
  private var vocab: Long = 0L
  private var store: Path = work.resolve("store-0")

  override def ops: Int = CompactEvery
  /** The last operation of every `CompactEvery` first compacts the index
    * of the batches before it, so the newest batch is never compacted
    * and can be replayed. */
  def kind(i: Int): String =
    if (i % CompactEvery == CompactEvery - 1) "compact+commit" else "commit"

  def generate(): Unit = {
    batches = Corpus.stream(work.resolve("stream"), seed, ops, perBatch)
    warmBatches = Corpus.stream(work.resolve("warm-stream"), seed + 1, 2,
      math.max(10, perBatch / 20))
  }

  private def frozenModel(spark: SparkSession, ref: Batch, dir: Path)
      : (DataFrame, Long) = {
    val docs = IO.parquet(spark, Seq(ref.path))
    parquetOut(LanguageModel.bigramModel(docs, "doc_id", "text"), dir)
    (IO.parquet(spark, Seq(dir.toString)),
      LanguageModel.refVocabSize(docs, "text"))
  }

  private def indexBytes(st: Path): Long =
    Seq("fps", "postings", "dfs").map(d => Disk.du(st.resolve(d))).sum

  private def commit(spark: SparkSession, b: Batch, st: Path, m: DataFrame,
      v: Long, compact: Boolean, tr: Tracer, c: Counters): OpResult = {
    val parts = Seq("docs", "fps", "postings", "dfs")
    var written = 0L
    if (compact) {
      tr.span("streaming.compact")(
        Streams.compactAdmissionIndex(spark, st.toString, b.id - 1L))
      c.add("streaming.compactions", 1)
      written += parts.map(p => Disk.du(st.resolve(p).resolve("batch=-1"))).sum
    }
    val df = IO.parquet(spark, Seq(b.path))
    if (tr.enabled) {
      c.add("streaming.index_read_bytes_per_batch", indexBytes(st).toDouble)
      tr.span("functions.shingle")(noop(
        df.select(TextOps.shingleHashes(col("text")).as("sh"))))
      tr.span("functions.minhash")(noop(df.select(call_function(
        "minhash_slots", TextOps.shingleHashes(col("text"))).as("mh"))))
      tr.span("llmops.lm_score")(noop(
        LanguageModel.lmScoreFrozen(df, m, v, "doc_id", "text")))
    }
    tr.span("streaming.commit")(Streams.curatedCommitIndexed(df, b.id,
      "doc_id", "text", m, v, 0.0, st.toString, MinJac, MaxDf))
    written += parts.map(p => Disk.du(st.resolve(p).resolve(s"batch=${b.id}"))).sum
    if (tr.enabled) c.add("io.write_bytes", written.toDouble)
    OpResult(b.rows, b.bytes, written)
  }

  /** Freezes the reference language model, then commits two small
    * batches into a throwaway store, compacting before the second. */
  def warm(spark: SparkSession): Unit = {
    val (m, v) = frozenModel(spark, batches.head, work.resolve("model"))
    model = m; vocab = v
    val st = work.resolve("warm-store")
    warmBatches.zipWithIndex.foreach { case (b, i) =>
      commit(spark, b, st, m, v, i > 0, new Tracer(false), new Counters)
    }
    Disk.rmrf(st)
  }

  override def startPhase(phase: Int): Unit =
    store = work.resolve(s"store-$phase")

  def op(spark: SparkSession, i: Int, tr: Tracer, c: Counters): OpResult =
    commit(spark, batches(i), store, model, vocab,
      kind(i) == "compact+commit", tr, c)

  /** (doc_id, batch) of every stored document, sorted. */
  private def storeRows(spark: SparkSession): Seq[(Long, Int)] =
    spark.read.parquet(store.resolve("docs").toString)
      .select(col("doc_id"), col("batch")).collect()
      .map(r => r.getLong(0) -> r.getAs[Number](1).intValue).sorted.toSeq

  def check(spark: SparkSession, opsRun: Int, c: Counters)
      : Map[String, Seq[String]] = {
    val errs = mutable.Map[String, mutable.ArrayBuffer[String]]()
    def fail(k: String, e: String): Unit =
      errs.getOrElseUpdate(k, mutable.ArrayBuffer()) += e
    if (opsRun == 0) return Map.empty
    c.set("streaming.store_bytes", Disk.du(store).toDouble)
    // replay: commit the newest batch again under its own batch id;
    // the store must not change
    val last = opsRun - 1
    val docs = storeRows(spark)
    commit(spark, batches(last), store, model, vocab, compact = false,
      new Tracer(false), new Counters)
    if (storeRows(spark) != docs)
      fail(Workload.AllOps, s"replaying batch $last changed the store")
    val byBatch = docs.groupMap(_._2)(_._1)
    var admitted, offered, rejExact = 0L
    (0 to last).foreach { i =>
      val b = batches(i)
      val got = byBatch.getOrElse(i, Nil).toSet
      val planted = b.exactIds.size + b.nearIds.size
      if (got.size + planted != b.rows)
        fail(kind(i), s"batch $i: admitted ${got.size} + planted rejects " +
          s"$planted != offered ${b.rows}")
      if (got.exists(b.exactIds))
        fail(kind(i), s"batch $i admitted a planted exact duplicate")
      admitted += got.size; offered += b.rows
      rejExact += b.exactIds.count(id => !got.contains(id))
    }
    c.set("streaming.admitted", admitted.toDouble)
    c.set("streaming.rejected_exact", rejExact.toDouble)
    c.set("streaming.rejected_near", (offered - admitted - rejExact).toDouble)
    errs.view.mapValues(_.toSeq).toMap
  }
}
