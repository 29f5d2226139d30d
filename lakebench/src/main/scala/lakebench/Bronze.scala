package lakebench

import java.io.{ByteArrayOutputStream, File}
import java.nio.file.Files
import java.util.zip.GZIPOutputStream

import scala.collection.mutable

/** One bronze object as the generator wrote it. */
final case class BronzeObject(arrival: Int, source: String, name: String,
    records: Int, bytes: Array[Byte])

/** Seeded generator of Firehose-shaped arrivals: each arrival is a few
  * gzip objects of back-to-back JSON records (no separator), written to
  * `bronze/<source>/`. Sources follow a Zipf skew, so the first source
  * is hot and the last ones are cold. Record and object sizes vary, and
  * a small share of records carry `}{` (and escaped quotes) inside a
  * string value, which a naive splitter would cut in two. The same seed
  * gives byte-identical objects. */
final class BronzeGen(seed: Long) {
  import BronzeGen._
  private val rng = new scala.util.Random(seed)
  private var nextId = 0L

  private val zipfCdf: Array[Double] = {
    val w = Sources.indices.map(i => 1.0 / math.pow(i + 1, ZipfS))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  /** `n` distinct sources, drawn by Zipf rank without replacement. */
  private def sources(n: Int): Seq[String] = {
    val picked = scala.collection.mutable.LinkedHashSet.empty[String]
    while (picked.size < n) {
      val u = rng.nextDouble()
      picked += Sources(zipfCdf.indexWhere(u < _) match { case -1 => Sources.length - 1; case i => i })
    }
    picked.toSeq
  }

  private def payload(): String = {
    val n = 8 + rng.nextInt(rng.nextInt(4) match { case 0 => 400; case _ => 60 })
    val s = new StringBuilder
    while (s.length < n) s ++= Words(rng.nextInt(Words.length)) += ' '
    if (rng.nextDouble() < TrickyShare) s ++= "}{\\\"x\\\":1}{"
    s.toString
  }

  /** The objects of arrival `a`, in write order: one object for each of
    * [[BronzeGen.ObjectsPerArrival]] distinct sources, holding
    * [[BronzeGen.RecordsPerArrival]] records between them, split
    * unevenly. */
  def arrival(a: Int): Seq[BronzeObject] = {
    val weights = Seq.fill(ObjectsPerArrival)(0.2 + rng.nextDouble())
    val sizes = weights.map(w => (w / weights.sum * RecordsPerArrival).toInt).toArray
    sizes(0) += RecordsPerArrival - sizes.sum
    sources(ObjectsPerArrival).zip(sizes).zipWithIndex.map { case ((src, nRec), j) =>
      val body = new StringBuilder
      (0 until nRec).foreach { r =>
        body ++= s"""{"id":$nextId,"source":"$src","arrival":$a,"seq":$r,""" +
          s""""value":${rng.nextInt(100000) / 100.0},"text":"${payload()}"}"""
        nextId += 1
      }
      val buf = new ByteArrayOutputStream()
      val gz = new GZIPOutputStream(buf)
      gz.write(body.toString.getBytes("UTF-8")); gz.close()
      BronzeObject(a, src, f"a$a%05d-$j%02d.json.gz", nRec, buf.toByteArray)
    }
  }
}

object BronzeGen {
  val Sources: IndexedSeq[String] =
    IndexedSeq("clicks", "views", "tweets", "orders", "searches", "logins", "shares", "errors")
  val ZipfS = 1.1
  val ObjectsPerArrival = 3
  val RecordsPerArrival = 600
  val TrickyShare = 0.03
  private val Words = Array("lake", "spark", "event", "replay", "json", "batch", "source",
    "catalog", "stream", "commit", "object", "bucket", "arrival", "record", "fan", "out")

  def write(bronzeDir: String, o: BronzeObject): File = {
    val d = new File(bronzeDir, o.source); d.mkdirs()
    val f = new File(d, o.name)
    Files.write(f.toPath, o.bytes)
    f
  }
}

/** What the program must report, derived from what the generator
  * wrote: records ingested per source, records each replay range must
  * return, and what each subscriber must see (ingested records plus
  * every record a committed replay re-published). */
final class Ledger {
  private val objects = mutable.ArrayBuffer.empty[BronzeObject]
  private val published = mutable.Map.empty[String, Long].withDefaultValue(0L)

  def wrote(o: BronzeObject): Unit = { objects += o; published(o.source) += o.records }

  /** Records of `source` in arrivals `a0..a1` (the replay unit is the object). */
  def replayCount(source: String, a0: Int, a1: Int): Long =
    matched(source, a0, a1).map(_.records.toLong).sum

  def matched(source: String, a0: Int, a1: Int): Seq[BronzeObject] =
    objects.filter(o => o.source == source && o.arrival >= a0 && o.arrival <= a1).toSeq

  def replayed(source: String, records: Long): Unit = published(source) += records

  def subscriberCount(source: String): Long = published(source)

  /** The gates: None when the program's count is the ledger's. */
  def replayProblem(source: String, a0: Int, a1: Int, got: Long): Option[String] = {
    val want = replayCount(source, a0, a1)
    if (got == want) None else Some(s"replay of $source $a0..$a1 returned $got records, ledger says $want")
  }

  def subscriberProblem(source: String, got: Long): Option[String] = {
    val want = subscriberCount(source)
    if (got == want) None else Some(s"subscriber of $source saw $got records, ledger says $want")
  }

  def ingestedRecords: Long = objects.map(_.records.toLong).sum

  /** Sources ingested so far, the one with the most records first. */
  def byRate: Seq[String] =
    objects.groupBy(_.source).toSeq.sortBy { case (s, os) => (-os.map(_.records).sum, s) }.map(_._1)

  def arrivalsWith(source: String): Seq[Int] =
    objects.filter(_.source == source).map(_.arrival).distinct.sorted.toSeq
}
