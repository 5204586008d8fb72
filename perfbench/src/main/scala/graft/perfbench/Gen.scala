package graft.perfbench

import java.io.{BufferedOutputStream, BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.avro.{Schema => ASchema}
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}

/** Seeded random source. Every generator draws from its own stream
  * (`fork`), so adding draws to one table never shifts another. */
final class Rng(seed: Long) {
  private val r = new SplittableRandom(seed)
  def int(n: Int): Int = r.nextInt(n)
  def between(lo: Long, hi: Long): Long = r.nextLong(lo, hi)
  def double(): Double = r.nextDouble()
  def chance(p: Double): Boolean = r.nextDouble() < p
  def fork(tag: Long): Rng = new Rng(seed * 1000003L + tag)
  def hex(n: Int): String = {
    val sb = new StringBuilder(n)
    var i = 0
    while (i < n) { sb.append("0123456789abcdef".charAt(r.nextInt(16))); i += 1 }
    sb.toString
  }
  def bytes(n: Int): Array[Byte] = {
    val b = new Array[Byte](n)
    var i = 0
    while (i < n) { b(i) = r.nextInt(256).toByte; i += 1 }
    b
  }
}

/** Zipf(s) over ranks 0..n-1 by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1.0, s))
    val tot = w.sum
    var acc = 0.0
    w.map { x => acc += x / tot; acc }
  }
  def sample(r: Rng): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.double())
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** One generated input table: where it lives and how big it is. */
final case class Table(name: String, format: String, dir: String,
    rows: Long, bytes: Long)

object Disk {
  def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else if (Files.isRegularFile(p)) Files.size(p)
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def rmrf(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally s.close()
  }

  /** Every regular file under `p`, sorted by relative path. */
  def listFiles(p: Path): Seq[Path] = {
    val s = Files.walk(p)
    try {
      val out = mutable.ArrayBuffer[Path]()
      s.filter(Files.isRegularFile(_)).forEach(f => out += f)
      out.sortBy(f => p.relativize(f).toString).toSeq
    } finally s.close()
  }
}

/** Text rows spread round-robin over `parts` files. */
final class LineParts(dir: Path, name: String, ext: String, parts: Int) {
  Files.createDirectories(dir)
  private val ws = Array.tabulate(parts)(i => new BufferedWriter(
    new OutputStreamWriter(new FileOutputStream(
      dir.resolve(f"part-$i%05d.$ext").toFile), UTF_8), 1 << 16))
  private var n = 0L
  def line(s: String): Unit = {
    val w = ws((n % parts).toInt)
    w.write(s); w.write('\n')
    n += 1
  }
  def close(format: String): Table = {
    ws.foreach(_.close())
    Table(name, format, dir.toString, n, Disk.du(dir))
  }
}

/** Avro container files, rows round-robin over `parts` files. The sync
  * marker is drawn from the seed so equal seeds give equal bytes. */
final class AvroParts(dir: Path, name: String, schema: ASchema,
    parts: Int, rng: Rng) {
  Files.createDirectories(dir)
  private val ws = Array.tabulate(parts) { i =>
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, new BufferedOutputStream(new FileOutputStream(
      dir.resolve(f"part-$i%05d.avro").toFile), 1 << 16), rng.bytes(16))
    w
  }
  private var n = 0L
  def row(values: (String, Any)*): Unit = {
    val rec = new GenericData.Record(schema)
    values.foreach { case (k, v) => rec.put(k, v) }
    ws((n % parts).toInt).append(rec)
    n += 1
  }
  def close(): Table = {
    ws.foreach(_.close())
    Table(name, "avro", dir.toString, n, Disk.du(dir))
  }
}

object Csv {
  /** One CSV field; None is the dump's `null` literal. */
  def f(v: Any): String = v match {
    case None => "null"
    case Some(x) => f(x)
    case s: String => s
    case d: Double => java.math.BigDecimal.valueOf(d).toPlainString
    case x => x.toString
  }
  def row(vs: Any*): String = vs.map(f).mkString(",")
}

object Json {
  private def q(s: String): String = {
    val sb = new StringBuilder(s.length + 2).append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def v(x: Any): String = x match {
    case None | null => "null"
    case Some(y) => v(y)
    case s: String => q(s)
    case d: Double => java.math.BigDecimal.valueOf(d).toPlainString
    case m: Obj => m.render
    case xs: Seq[_] => xs.map(v).mkString("[", ",", "]")
    case o => o.toString
  }
  final case class Obj(fields: (String, Any)*) {
    def render: String =
      fields.map { case (k, x) => q(k) + ":" + v(x) }.mkString("{", ",", "}")
  }
}
