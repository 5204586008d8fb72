package graft.perfbench

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class PerfbenchSpec extends AnyFunSuite {

  private val work = Paths.get("target", "test-work").toAbsolutePath

  private def fresh(name: String): Path = {
    val d = work.resolve(name)
    Disk.rmrf(d)
    Files.createDirectories(d)
  }

  /** Relative path → bytes of every file under `dir`. */
  private def snapshot(dir: Path): Map[String, Seq[Byte]] =
    Disk.listFiles(dir).map(f =>
      dir.relativize(f).toString -> Files.readAllBytes(f).toSeq).toMap

  test("the same seed gives byte-identical inputs, a new seed the same shapes") {
    val (a, b, c) = (fresh("gen-a"), fresh("gen-b"), fresh("gen-c"))
    val la = CmsLake.generate(a.resolve("lake"), 5, 0.05, 2)
    val lb = CmsLake.generate(b.resolve("lake"), 5, 0.05, 2)
    val lc = CmsLake.generate(c.resolve("lake"), 6, 0.05, 2)
    assert(snapshot(a.resolve("lake")) == snapshot(b.resolve("lake")))
    assert(la.truth == lb.truth)
    assert(la.tables.keySet == lc.tables.keySet)
    Seq("replicas", "dids", "contents", "rses", "jm").foreach { t =>
      assert(la.tables(t).format == "avro")
      assert(Disk.listFiles(Paths.get(la.tables(t).dir)).size == 2, t)
    }
    Seq("datasets", "blocks", "files", "condor", "aaa", "cmssw", "eos", "fts",
      "fwjr", "jm", "dids").foreach { t =>
      assert(la.tables(t).rows == lc.tables(t).rows, t)
    }
    la.tables.keys.foreach { t =>
      val (x, y) = (la.tables(t).rows, lc.tables(t).rows)
      assert(math.abs(x - y) <= 0.25 * x + 10, s"$t: $x vs $y rows")
    }
    assert(snapshot(a.resolve("lake")) != snapshot(c.resolve("lake")))

    val ca = Corpus.generate(a.resolve("corpus"), 5, 300, 2)
    val cb = Corpus.generate(b.resolve("corpus"), 5, 300, 2)
    val cc = Corpus.generate(c.resolve("corpus"), 6, 300, 2)
    assert(snapshot(a.resolve("corpus")) == snapshot(b.resolve("corpus")))
    assert(ca == cb.copy(table = cb.table.copy(dir = ca.table.dir)))
    assert(ca.table.rows == cc.table.rows)
    assert(ca.exactIds.size == cc.exactIds.size && ca.nearOf.size == cc.nearOf.size)

    val sa = Corpus.stream(a.resolve("stream"), 5, 4, 100)
    val sb = Corpus.stream(b.resolve("stream"), 5, 4, 100)
    val sc = Corpus.stream(c.resolve("stream"), 6, 4, 100)
    assert(snapshot(a.resolve("stream")) == snapshot(b.resolve("stream")))
    assert(sa.map(x => (x.rows, x.exactIds, x.nearIds)) ==
      sb.map(x => (x.rows, x.exactIds, x.nearIds)))
    assert(sa.map(_.rows) == sc.map(_.rows))
    assert(sa.head.exactIds.isEmpty && sa.tail.forall(_.exactIds.nonEmpty))
  }

  private lazy val benchmarkJson =
    new ObjectMapper().readTree(Paths.get("..", "BENCHMARK.json").toFile)

  private def entries(key: String): Seq[(String, String)] =
    benchmarkJson.path(key).elements().asScala.toSeq
      .map(n => n.path("name").asText() -> n.path("unit").asText())

  test("the metric names and units printed are those in BENCHMARK.json") {
    assert(entries("end_to_end") == Metrics.EndToEnd.map(m => m.name -> m.unit))
    assert(entries("per_layer") == Metrics.PerLayer.map(m => m.name -> m.unit))
    val workloads = benchmarkJson.path("workloads").elements().asScala
      .map(_.path("name").asText()).toSeq
    assert(workloads.nonEmpty && workloads.forall(Workload.Names.contains))
  }

  /** Runs the benchmark in-process; returns (exit code, last stdout line). */
  private def bench(workload: String, trace: Boolean, scale: Double)
      : (Int, String) = {
    val out = new ByteArrayOutputStream()
    val code = Console.withOut(out) {
      Bench.run(Bench.Args(workload, 3, 60, trace, work.resolve("smoke"),
        scale, 2))
    }
    (code, out.toString("UTF-8").trim.split('\n').last)
  }

  private def metricNames(json: String): Seq[String] =
    new ObjectMapper().readTree(json).path("metrics").fieldNames().asScala.toSeq

  Seq("cms_daily" -> 0.05, "corpus_release" -> 0.05,
    "admission_stream" -> 0.1).foreach { case (w, scale) =>
    test(s"a tiny $w run passes its output checks") {
      val (code, last) = bench(w, trace = true, scale)
      assert(code == 0, last)
      val j = new ObjectMapper().readTree(last)
      assert(j.path("correct").asBoolean())
      assert(j.path("failed").asLong() == 0L && j.path("attempted").asLong() >= 2L)
      val extra = if (w == "corpus_release") Metrics.CorpusLayer else Nil
      assert(metricNames(last) == (Metrics.PerLayer ++ extra).map(_.name))
    }
  }

  test("an untraced run prints every end-to-end metric") {
    val (code, last) = bench("admission_stream", trace = false, 0.1)
    assert(code == 0, last)
    assert(metricNames(last) == Metrics.EndToEnd.map(_.name))
  }
}
