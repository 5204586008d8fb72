package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser

/** Synthetic English-shaped text: Zipf(1.0) content words whose mean
  * length keeps documents inside the quality waterfall's chars-per-token
  * band, with about one stop word in ten. */
final class Words(r: Rng, vocab: Int) {
  private val stops = Array("the", "a", "of", "and", "to", "in", "is", "it")
  private val lengths = Array(3, 3, 3, 4, 4, 4, 4, 4, 5, 5, 5, 5, 5, 6, 6,
    6, 6, 7, 7, 7)
  private val words = Array.fill(vocab) {
    val n = lengths(r.int(lengths.length))
    val sb = new StringBuilder(n)
    (0 until n).foreach(_ => sb.append(('a' + r.int(26)).toChar))
    sb.toString
  }
  private val zipf = new Zipf(vocab, 1.0)
  def word(g: Rng): String =
    if (g.chance(0.1)) stops(g.int(stops.length)) else words(zipf.sample(g))
  def doc(g: Rng, minTokens: Int, maxTokens: Int): Array[String] =
    Array.fill(minTokens + g.int(maxTokens - minTokens + 1))(word(g))
  /** A near duplicate: one token in 40 (at least one) replaced, which
    * keeps the word-3-gram Jaccard similarity to the original above
    * 0.8. */
  def nearCopy(g: Rng, toks: Array[String]): Array[String] = {
    val out = toks.clone()
    val k = math.max(1, toks.length / 40)
    val pos = mutable.LinkedHashSet[Int]()
    while (pos.size < k) pos += g.int(toks.length)
    pos.foreach { p =>
      var w = word(g)
      while (w == toks(p)) w = word(g)
      out(p) = w
    }
    out
  }
}

/** Parquet writer for (doc_id, text, source) rows — plain parquet-mr,
  * so equal rows give equal bytes. */
final class DocParquet(path: Path) {
  private val schema = MessageTypeParser.parseMessageType(
    "message doc { required int64 doc_id; required binary text (STRING); " +
      "required binary source (STRING); }")
  private val groups = new SimpleGroupFactory(schema)
  Files.createDirectories(path.getParent)
  private val w = ExampleParquetWriter.builder(new LocalOutputFile(path))
    .withType(schema)
    .withCompressionCodec(CompressionCodecName.SNAPPY)
    .build()
  private var n = 0L
  def write(id: Long, text: String, source: String): Unit = {
    w.write(groups.newGroup().append("doc_id", id).append("text", text)
      .append("source", source))
    n += 1
  }
  def close(): Long = { w.close(); n }
}

/** A corpus with planted duplicates. `nearOf` maps each planted near
  * duplicate to the document it copies; every planted copy has a larger
  * id than its original, so a min-id keeper policy keeps the original. */
final case class CorpusData(table: Table, exactIds: Set[Long],
    nearOf: Map[Long, Long])

/** One micro-batch of the admission stream and what it plants. */
final case class Batch(id: Int, path: String, rows: Long, bytes: Long,
    exactIds: Set[Long], nearIds: Set[Long])

object Corpus {
  val Sources: IndexedSeq[String] = (0 until 5).map(i => s"src$i")

  /** `nFresh` distinct documents plus ~10% planted exact copies and
    * ~10% planted near copies of them (shares of the final corpus),
    * written as `parts` parquet files. */
  def generate(dir: Path, seed: Long, nFresh: Int, parts: Int): CorpusData = {
    val r = new Rng(seed)
    val words = new Words(r.fork(1), 20000)
    val g = r.fork(2)
    val fresh = Array.fill(nFresh)(words.doc(g, 40, 120))
    val nCopies = nFresh / 8
    val outs = Array.tabulate(parts)(i =>
      new DocParquet(dir.resolve(f"part-$i%05d.parquet")))
    var next = 0L
    def emit(toks: Array[String]): Long = {
      val id = next
      outs((id % parts).toInt).write(id, toks.mkString(" "),
        Sources(g.int(Sources.size)))
      next += 1
      id
    }
    fresh.foreach(emit)
    val exact = (0 until nCopies).map(_ => emit(fresh(g.int(nFresh)))).toSet
    val near = (0 until nCopies).map { _ =>
      val o = g.int(nFresh)
      emit(words.nearCopy(g, fresh(o))) -> o.toLong
    }.toMap
    outs.foreach(_.close())
    CorpusData(Table("docs", "parquet", dir.toString, next, Disk.du(dir)),
      exact, near)
  }

  /** `nBatches` micro-batches of `perBatch` documents. From the second
   * batch on, ~10% of each batch are exact replays and ~10% near
   * replays of documents first sent in an earlier batch. */
  def stream(dir: Path, seed: Long, nBatches: Int, perBatch: Int)
      : IndexedSeq[Batch] = {
    val r = new Rng(seed)
    val words = new Words(r.fork(1), 20000)
    val g = r.fork(3)
    val sent = mutable.ArrayBuffer[Array[String]]()
    var next = 0L
    (0 until nBatches).map { b =>
      val path = dir.resolve(f"batch-$b%05d.parquet")
      val w = new DocParquet(path)
      val exact = mutable.Set[Long]()
      val near = mutable.Set[Long]()
      val fresh = mutable.ArrayBuffer[Array[String]]()
      for (_ <- 0 until perBatch) {
        val u = g.double()
        val toks =
          if (sent.isEmpty || u >= 0.2) {
            val t = words.doc(g, 40, 120); fresh += t; t
          } else if (u < 0.1) { exact += next; sent(g.int(sent.size)) }
          else { near += next; words.nearCopy(g, sent(g.int(sent.size))) }
        w.write(next, toks.mkString(" "), Sources(g.int(Sources.size)))
        next += 1
      }
      w.close()
      sent ++= fresh
      Batch(b, path.toString, perBatch, Files.size(path), exact.toSet,
        near.toSet)
    }
  }
}
