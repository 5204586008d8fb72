package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.core.Sessions

/** Benchmark entry point: one workload, one seed, one JVM.
  *
  * {{{
  * Bench --workload cms_daily --seed 7 --seconds 10 --trace 0 [--work DIR]
  * }}}
  *
  * Inputs are generated from the seed (untimed), then set-up — session
  * build on `local[cores]`, extension registration, one warm pass —
  * runs once; repeating it would cost a run 10-30 s per repeat, as the
  * warm pass runs every operation's code path. The measured phase is a
  * closed loop over the workload's fixed operations: each starts when
  * the previous one returns. `--seconds` only bounds it: operations not
  * started within `TimeoutFactor` × `--seconds` count as failed. Outputs
  * are then checked against the generator's ground truth.
  *
  * `--trace 0` prints the end-to-end metrics. `--trace 1` runs the
  * operations untraced, then with spans, layer probes and Spark listener
  * counters, then untraced again, and prints the per-layer metrics;
  * tracing overhead is the traced time minus the mean untraced time of
  * those operations. The last stdout line is one JSON object.
  */
object Bench {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, scale: Double, cores: Int)

  object Args {
    def parse(argv: Array[String]): Args = {
      val m = argv.sliding(2, 2).collect {
        case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      }.toMap
      val known = Set("workload", "seed", "seconds", "trace", "work")
      val unknown = m.keySet -- known
      require(unknown.isEmpty && argv.length % 2 == 0,
        s"bad arguments: ${argv.mkString(" ")}")
      def need(k: String) = m.getOrElse(k,
        throw new IllegalArgumentException(s"--$k is required"))
      Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
        need("trace") == "1",
        Paths.get(m.getOrElse("work", ".perfbench-work")).toAbsolutePath,
        1.0, Runtime.getRuntime.availableProcessors())
    }
  }

  final case class Sample(i: Int, kind: String, seconds: Double,
      result: Either[Throwable, OpResult])

  def drain(spark: SparkSession): Unit =
    org.apache.spark.BenchBus.drain(spark.sparkContext)

  def main(argv: Array[String]): Unit = {
    val code =
      try run(Args.parse(argv))
      catch {
        case e: IllegalArgumentException =>
          System.err.println(s"perfbench: ${e.getMessage}")
          2
        case NonFatal(e) =>
          System.err.println(s"perfbench: run failed: $e")
          e.printStackTrace()
          1
      }
    System.out.flush()
    sys.exit(code)
  }

  /** Broadcast-join threshold, scaled down with the lake. A daily CMS
    * dump's fact tables are gigabytes and join by shuffle; its dimension
    * tables are well under Spark's default 10 MB. The generated fact
    * tables are 1.5-8 MB on disk and smaller after column pruning, so
    * at 10 MB nearly every join is broadcast. At 128 KB fact–fact joins
    * run as shuffle joins and dimension joins as broadcast joins, as at
    * full size (`jobs.shuffle_joins` and `jobs.broadcast_joins` count
    * them). */
  val BroadcastThreshold: Long = 128L * 1024

  val BroadcastConf = "spark.sql.autoBroadcastJoinThreshold"

  private def session(a: Args, dir: Path): SparkSession = {
    val s = Sessions.builder(s"local[${a.cores}]", a.cores)
      .appName(s"perfbench-${a.workload}")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config(BroadcastConf, BroadcastThreshold)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** How many times `--seconds` the measured phases may take before the
    * operations not yet started are counted as failed. */
  val TimeoutFactor = 10
  object NotStarted extends Exception("not started: the run timed out")

  /** Closed loop: the workload's `ops` operations back to back. Those
    * not started by `deadline` (a `nanoTime`) fail without running. A
    * full GC runs before each operation, outside its timing, so garbage
    * one operation leaves neither slows the next nor piles up in the old
    * generation, where it would set the peak RSS. */
  private def loop(spark: SparkSession, w: Workload, tr: Tracer,
      c: Counters, deadline: Long): Seq[Sample] =
    (0 until w.ops).map { i =>
      System.gc()
      val s = System.nanoTime()
      val r =
        if (s > deadline) Left(NotStarted)
        else
          try Right(tr.operation(i)(tr.span("op")(w.op(spark, i, tr, c))))
          catch { case NonFatal(e) => Left(e) }
      val sample = Sample(i, w.kind(i), (System.nanoTime() - s) / 1e9, r)
      r.left.foreach(e =>
        System.err.println(s"perfbench: op $i (${w.kind(i)}) failed: $e"))
      System.err.println(f"perfbench: op $i ${w.kind(i)} ${sample.seconds}%.3f s")
      sample
    }

  private def started(ss: Seq[Sample]): Int = ss.count(_.result != Left(NotStarted))

  /** Operations that returned and whose outputs passed their checks. */
  private def passed(ss: Seq[Sample], failedChecks: Map[String, Seq[String]])
      : Seq[Sample] =
    if (failedChecks.contains(Workload.AllOps)) Nil
    else ss.filter(s => s.result.isRight && !failedChecks.contains(s.kind))

  /** Linear-interpolated quantile of sorted values. */
  def quantile(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) 0.0
    else {
      val h = (sorted.size - 1) * q
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (h - lo) * (sorted(hi) - sorted(lo))
    }

  def median(xs: Seq[Double]): Double = quantile(xs.sorted, 0.5)

  /** How operation latency moves over the run: per operation kind with
    * at least two samples, the median of its last quarter over the
    * median of its first quarter; the median of those ratios. */
  def growthRatio(ok: Seq[Sample]): Double = {
    val ratios = ok.groupBy(_.kind).values.map(_.sortBy(_.i).map(_.seconds))
      .filter(_.size >= 2).map { xs =>
        val q = math.max(1, xs.size / 4)
        median(xs.takeRight(q)) / median(xs.take(q))
      }.toSeq
    if (ratios.isEmpty) 1.0 else median(ratios)
  }

  private def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status"), UTF_8)
      .toArray.map(_.toString).find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  /** (steal, total) CPU ticks of the machine, from /proc/stat. */
  private def cpuTicks(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat"), UTF_8).get(0)
      .trim.split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.sum)
  }

  private def num(v: Double): Double =
    if (v.isNaN || v.isInfinite) 0.0 else v

  def run(a: Args): Int = {
    require(Workload.Names.contains(a.workload),
      s"unknown workload '${a.workload}'; one of ${Workload.Names.mkString(", ")}")
    val dir = a.work.resolve(s"${a.workload}-${a.seed}-${if (a.trace) 1 else 0}")
    Disk.rmrf(dir)
    Files.createDirectories(dir)
    val w = Workload(a.workload, dir, a.seed, a.scale, a.cores)
    val ticks0 = cpuTicks()
    val tg = System.nanoTime()
    w.generate()
    println(f"${a.workload}: inputs generated in ${(System.nanoTime() - tg) / 1e9}%.2f s")

    val t0 = System.nanoTime()
    val spark = session(a, dir)
    try {
      Sessions.ensureQueryConfs(spark)
      val tw = System.nanoTime()
      w.warm(spark)
      val setup = (System.nanoTime() - t0) / 1e9
      println(f"set-up: session ${(tw - t0) / 1e9}%.2f s, warm pass " +
        f"${(System.nanoTime() - tw) / 1e9}%.2f s; peak RSS ${peakRssMb()}%.0f MB")
      val deadline = System.nanoTime() + (TimeoutFactor * a.seconds * 1e9).toLong
      var attempted, failed = 0
      var checksPassed = true
      /** Runs and checks one measured phase, with `bus` listening to its
        * operations (not to its checks). Returns all its samples, those
        * that passed, and the wall seconds of its operations. */
      def phase(p: Int, tr: Tracer, c: Counters,
          bus: Option[SparkCounters] = None): (Seq[Sample], Seq[Sample], Double) = {
        w.startPhase(p)
        bus.foreach { b =>
          spark.sparkContext.addSparkListener(b)
          spark.listenerManager.register(b)
        }
        w.bus = bus
        val t0 = System.nanoTime()
        val ss = loop(spark, w, tr, c, deadline)
        bus.foreach { b =>
          drain(spark)
          spark.listenerManager.unregister(b)
          spark.sparkContext.removeSparkListener(b)
        }
        val wall = (System.nanoTime() - t0) / 1e9
        w.bus = None
        val failedChecks = w.check(spark, started(ss), c)
        failedChecks.foreach { case (k, es) =>
          es.foreach(e => System.err.println(s"perfbench: check failed for $k: $e"))
        }
        val ok = passed(ss, failedChecks)
        attempted += ss.size
        failed += ss.size - ok.size
        checksPassed &&= failedChecks.isEmpty
        (ss, ok, wall)
      }
      val (samplesA, okA, _) = phase(0, new Tracer(false), new Counters)

      val metrics = mutable.LinkedHashMap[String, Double]()
      if (!a.trace) {
        val lat = okA.map(_.seconds).sorted
        val res = okA.flatMap(_.result.toOption)
        metrics("setup_s") = setup
        metrics("rows_per_s") = res.map(_.rows).sum / lat.sum
        metrics("op_p50_s") = quantile(lat, 0.5)
        metrics("op_p90_s") = quantile(lat, 0.9)
        metrics("bytes_written_per_input_byte") =
          res.map(_.outBytes).sum.toDouble / res.map(_.inBytes).sum
        metrics("peak_rss_mb") = peakRssMb()
        ManagementFactory.getMemoryPoolMXBeans.asScala
          .filter(_.getType == MemoryType.HEAP).foreach { p =>
            println(f"heap pool ${p.getName}: peak ${p.getPeakUsage.getUsed / 1e6}%.0f MB")
          }
        println(f"${a.workload}: ${samplesA.size} ops, $failed failed; " +
          f"set-up $setup%.2f s")
        okA.groupBy(_.kind).toSeq.sortBy(_._2.head.i).foreach { case (k, ss) =>
          println(f"  $k%-24s median ${median(ss.map(_.seconds))}%.3f s over ${ss.size}")
        }
        println(f"op latency over n=${lat.size}: p50 ${quantile(lat, 0.5)}%.3f s, " +
          f"p90 ${quantile(lat, 0.9)}%.3f s (${lat.size / 10.0}%.1f samples beyond p90)")
      } else {
        val bus = new SparkCounters
        val tr = new Tracer(true)
        val c = new Counters
        val (samplesB, _, wallB) = phase(1, tr, c, Some(bus))
        // untraced again: later passes run faster as the JIT warms up,
        // so the traced pass is compared with the untraced passes on
        // both sides of it
        val (samplesC, _, _) = phase(2, new Tracer(false), new Counters)
        val k = math.max(1, samplesB.size).toDouble
        val span = tr.total
        def perOp(name: String) = span.getOrElse(name, 0.0) / k
        Seq("io.read_csv", "io.read_avro", "io.read_json", "io.write",
          "jobs.plan", "jobs.exec", "llmops.exact", "llmops.waterfall",
          "llmops.signatures", "llmops.lsh", "llmops.verify",
          "llmops.keep_list", "llmops.release", "llmops.lm_score",
          "functions.shingle",
          "functions.minhash", "streaming.commit", "docsink.push")
          .foreach(n => metrics(n + "_s") = perOp(n))
        Seq("io.read_rows", "io.read_bytes", "io.write_bytes",
          "jobs.spark_jobs_per_op", "jobs.shuffle_joins",
          "jobs.broadcast_joins", "llmops.candidate_pairs",
          "llmops.verified_pairs", "streaming.index_read_bytes_per_batch",
          "streaming.admitted", "streaming.rejected_exact",
          "streaming.rejected_near", "docsink.docs", "docsink.bytes")
          .foreach(n => metrics(n) = c(n) / k)
        metrics("llmops.candidate_precision") =
          c("llmops.verified_pairs") / c("llmops.candidate_pairs")
        metrics("llmops.planted_recall") = c("llmops.planted_recall")
        metrics("streaming.compact_s") =
          span.getOrElse("streaming.compact", 0.0) / c("streaming.compactions")
        metrics("streaming.store_bytes") = c("streaming.store_bytes")
        val offered = c("streaming.admitted") + c("streaming.rejected_exact") +
          c("streaming.rejected_near")
        metrics("streaming.admit_ratio") = c("streaming.admitted") / offered
        metrics("spark.jobs") = bus.jobs / k
        metrics("spark.stages") = bus.stages / k
        metrics("spark.tasks") = bus.tasks / k
        metrics("spark.failed_tasks") = bus.failedTasks / k
        metrics("spark.task_run_s") = bus.runNs / 1e9 / k
        metrics("spark.task_cpu_s") = bus.cpuNs / 1e9 / k
        metrics("spark.gc_s") = bus.gcNs / 1e9 / k
        metrics("spark.task_wait_s") = bus.waitNs / 1e9 / k
        metrics("spark.shuffle_write_bytes") = bus.shuffleWrite / k
        metrics("spark.shuffle_read_bytes") = bus.shuffleRead / k
        metrics("spark.spill_bytes") = bus.spill / k
        metrics("spark.cpu_busy_ratio") = bus.cpuNs / 1e9 / (wallB * a.cores)
        metrics("failed_ratio") = failed.toDouble / math.max(1, attempted)
        metrics("op_growth_ratio") = growthRatio(okA)
        val untraced = (samplesA ++ samplesC).map(_.seconds).sum / 2
        val traced = samplesB.map(_.seconds).sum
        metrics("trace.overhead_s") = (traced - untraced) / k
        metrics("trace.overhead_ratio") = traced / untraced - 1
        println(f"${a.workload}: ${samplesB.size} ops traced in $traced%.2f s, " +
          f"untraced ${samplesA.map(_.seconds).sum}%.2f s before and " +
          f"${samplesC.map(_.seconds).sum}%.2f s after")
        println("self time per span (s/op):")
        tr.self.toSeq.sortBy(-_._2).foreach { case (n, s) =>
          println(f"  $n%-24s ${s / k}%.4f")
        }
        tr.write(a.work.resolve("traces").resolve(s"${a.workload}-${a.seed}.jsonl"))
      }

      val ticks1 = cpuTicks()
      // time the hypervisor gave to other guests: a high share means
      // this run's times are inflated
      println(f"cpu steal during the run: ${100.0 * (ticks1._1 - ticks0._1) /
        math.max(1L, ticks1._2 - ticks0._2)}%.1f%%")
      val catalogue =
        if (!a.trace) Metrics.EndToEnd
        else if (a.workload == "corpus_release") Metrics.PerLayer ++ Metrics.CorpusLayer
        else Metrics.PerLayer
      catalogue.foreach(m => println(f"${m.name} = ${num(metrics.getOrElse(m.name, 0.0))}%.6g ${m.unit}"))
      val correct = failed == 0 && attempted > 0 && checksPassed
      val body = catalogue.map(m => m.name -> Json.Obj(
        "value" -> num(metrics.getOrElse(m.name, 0.0)), "unit" -> m.unit))
      println(Json.Obj("correct" -> correct, "attempted" -> attempted,
        "failed" -> failed, "metrics" -> Json.Obj(body: _*)).render)
      if (correct) 0 else 1
    } finally {
      spark.stop()
      Disk.rmrf(dir)
    }
  }
}
