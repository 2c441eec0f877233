package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest

/** SplitMix64: a tiny PRNG whose stream is fixed by its seed alone, on
  * every JVM, so a seed names exactly one input.
  */
final class SplitMix64(seed: Long) {
  private var s = seed
  def nextLong(): Long = {
    s += 0x9E3779B97F4A7C15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  def nextInt(n: Int): Int = ((nextLong() >>> 1) % n).toInt
  def between(lo: Int, hi: Int): Int = lo + nextInt(hi - lo + 1)
  def chance(p: Double): Boolean = nextDouble() < p
}

object Gen {
  /** A vocabulary of `n` distinct lowercase words, 4 to 9 letters long:
    * long enough that generated text passes the Gopher word-length rules.
    */
  def vocabulary(rng: SplitMix64, n: Int): Array[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n)
      seen += Array.fill(rng.between(4, 9))(('a' + rng.nextInt(26)).toChar).mkString
    seen.toArray
  }

  /** A seeded Fisher-Yates shuffle. */
  def shuffled[T: scala.reflect.ClassTag](rng: SplitMix64, xs: Seq[T]): IndexedSeq[T] = {
    val a = xs.toArray
    for (i <- a.indices.reverse) { val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a.toIndexedSeq
  }

  /** `n` kinds in the exact proportions `shares` (the rest `other`), in a
    * seeded order: every seed gets the same mix, placed differently.
    */
  def mix[T: scala.reflect.ClassTag](rng: SplitMix64, n: Int, shares: Seq[(T, Double)], other: T): IndexedSeq[T] = {
    val fixed = shares.flatMap { case (k, p) => Seq.fill(math.round(n * p).toInt)(k) }
    shuffled(rng, fixed ++ Seq.fill(n - fixed.size)(other))
  }

  def words(rng: SplitMix64, vocab: Array[String], n: Int): Array[String] =
    Array.fill(n)(vocab(rng.nextInt(vocab.length)))

  def sha256(chunks: Iterator[Array[Byte]]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    chunks.foreach { c =>
      md.update(java.nio.ByteBuffer.allocate(4).putInt(c.length).array())
      md.update(c)
    }
    md.digest().map("%02x".format(_)).mkString
  }
}

/** One generated `%DOC` file ([[graft.extract.StubExtractor]]'s format):
  * its path relative to the corpus root, its bytes, and its page texts
  * (empty when the file is corrupt).
  */
final case class DocFile(path: String, bytes: Array[Byte], pages: Seq[String]) {
  def corrupt: Boolean = pages.isEmpty
}

/** The seeded extraction corpus: `base` files form the first corpus, `grown`
  * files arrive before the resume pass.
  */
final case class ExtractCorpus(base: Seq[DocFile], grown: Seq[DocFile]) {
  def all: Seq[DocFile] = base ++ grown
  /** Rows the pipeline writes for `files`: one per page, one per corrupt file. */
  def rows(files: Seq[DocFile]): Long = files.map(f => math.max(1, f.pages.size).toLong).sum
  def bytes(files: Seq[DocFile]): Long = files.map(_.bytes.length.toLong).sum
  def sha256: String = Gen.sha256(all.iterator.flatMap(f => Iterator(f.path.getBytes(UTF_8), f.bytes)))

  def write(root: Path, files: Seq[DocFile]): Unit = files.foreach { f =>
    val p = root.resolve(f.path)
    Files.createDirectories(p.getParent)
    Files.write(p, f.bytes)
  }
}

object ExtractCorpus {
  /** Input properties, recorded in the benchmark's README. */
  val Docs = 500
  val GrownShare = 0.10
  val CorruptShare = 0.03
  /** Page counts follow a Pareto tail, P(pages >= k) = (k / MinPages)^-TailAlpha, capped. */
  val TailAlpha = 1.5
  val MinPages = 4
  val MaxPages = 400

  /** Page counts are the Pareto quantiles at evenly spaced points, dealt
    * to files in a seeded order, so every seed has the same page total.
    */
  def pageCounts(files: Int): Seq[Int] = (0 until files).map { k =>
    math.min(MaxPages, math.floor(MinPages * math.pow(1.0 - (k + 0.5) / files, -1.0 / TailAlpha)).toInt)
  }

  def generate(seed: Long, docs: Int = Docs): ExtractCorpus = {
    val rng = new SplitMix64(seed ^ 0x5EED0E7L)
    val vocab = Gen.vocabulary(rng, 3000)
    def batch(from: Int, n: Int): Seq[DocFile] = {
      val corrupt = Gen.mix(rng, n, Seq(true -> CorruptShare), false)
      val counts = Gen.shuffled(rng, pageCounts(corrupt.count(!_))).iterator
      (0 until n).map { j =>
        // nested directories of uneven depth, as a scanned archive has
        val dirs = (1 to rng.between(1, 3)).map(d => s"l$d-${rng.nextInt(6)}")
        val path = (dirs :+ f"doc${from + j}%06d.doc").mkString("/")
        if (corrupt(j)) {
          val junk = Array.fill(rng.between(64, 512))(('A' + rng.nextInt(26)).toByte)
          DocFile(path, "PK".getBytes(UTF_8) ++ junk, Nil)
        } else {
          val pages = Seq.fill(counts.next())(Gen.words(rng, vocab, rng.between(20, 80)).mkString(" "))
          DocFile(path, (graft.extract.StubExtractor.Magic + pages.mkString("\f")).getBytes(UTF_8), pages)
        }
      }
    }
    val base = batch(0, docs)
    ExtractCorpus(base, batch(docs, math.round(docs * GrownShare).toInt))
  }
}

/** One generated document row, in the fixture `documents` schema. */
final case class DocRow(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

/** The seeded curation corpus, with the planted structure the output
  * checks rely on. `exactGroups` lists each planted exact-duplicate group
  * (the original and its copies) whose text passes the quality gate.
  */
final case class CurateCorpus(base: Seq[DocRow], grown: Seq[DocRow],
    exactGroups: Seq[Seq[Long]]) {
  def all: Seq[DocRow] = base ++ grown
  def sha256: String = Gen.sha256(all.iterator.map(r =>
    s"${r.doc_id}\u0001${r.text}\u0001${r.lang}\u0001${r.source}\u0001${r.n_chars}".getBytes(UTF_8)))
}

object CurateCorpus {
  /** Input properties, recorded in the benchmark's README. */
  val Docs = 1500
  val GrownShare = 0.10
  val QualityFailShare = 0.20
  val ExactShare = 0.10
  val NearShare = 0.10
  val ExcerptShare = 0.05
  /** Share of tokens a near-duplicate replaces. */
  val NearEdit = 0.10

  private val Langs = Array("en", "de", "fr", "es", "zh")

  def generate(seed: Long, docs: Int = Docs): CurateCorpus = {
    val rng = new SplitMix64(seed ^ 0xC0A7EL)
    val vocab = Gen.vocabulary(rng, 6000)
    // quality-passing originals that copies are made from, with the index
    // of the row that holds each: every planted duplicate is judged past
    // the quality gate
    val originals = scala.collection.mutable.ArrayBuffer.empty[(Array[String], Int)]
    val copyOf = scala.collection.mutable.ArrayBuffer.empty[Int] // -1: no exact original
    def pick(): (Array[String], Int) = originals(rng.nextInt(originals.size))
    val total = docs + math.round(docs * GrownShare).toInt
    // the same mix of kinds for every seed, in a seeded order
    def kinds(n: Int): Seq[Char] = Gen.mix(rng, n, Seq('q' -> QualityFailShare, 'e' -> ExactShare,
      'n' -> NearShare, 'x' -> ExcerptShare), 'f')
    val kind = ('f' +: kinds(docs - 1)) ++ kinds(total - docs)
    def next(i: Int): String = {
      if (kind(i) == 'f') {
        val w = Gen.words(rng, vocab, rng.between(40, 220)); originals += ((w, i)); copyOf += -1
        w.mkString(" ")
      } else if (kind(i) == 'q') {
        copyOf += -1
        // fails the gate: too few words, or too repetitive
        if (rng.chance(0.5)) Gen.words(rng, vocab, rng.between(5, 25)).mkString(" ")
        else { val few = Gen.words(rng, vocab, 6); Array.fill(rng.between(40, 120))(few(rng.nextInt(6))).mkString(" ") }
      } else if (kind(i) == 'e') {
        val (w, o) = pick(); copyOf += o
        // half the copies differ only in case, which --normalize-hash folds
        if (rng.chance(0.5)) w.mkString(" ") else w.map(_.capitalize).mkString(" ")
      } else if (kind(i) == 'n') {
        val w = pick()._1.clone(); copyOf += -1
        // at least one token changes, so a near-duplicate is never exact
        val forced = rng.nextInt(w.length)
        w.indices.foreach { j =>
          if (j == forced || rng.chance(NearEdit)) w(j) = w(j).reverse + "x"
        }
        w.mkString(" ")
      } else {
        val w = pick()._1; copyOf += -1
        val len = math.max(30, (w.length * (0.7 + 0.2 * rng.nextDouble())).toInt)
        val from = rng.nextInt(w.length - math.min(len, w.length) + 1)
        w.slice(from, from + len).mkString(" ")
      }
    }
    val texts = (0 until total).map(next)
    // doc ids are a seeded permutation of generation order within the base
    // corpus, so the keeper of a duplicate group is not simply its original;
    // grown documents get the next ids, as a growing corpus assigns them
    val base0 = 1000L + rng.nextInt(1000)
    val ids = Gen.shuffled(rng, (0 until docs).map(base0 + _)) ++ (docs until total).map(base0 + _)
    val rows = texts.indices.map(i => DocRow(ids(i), texts(i),
      Langs(rng.nextInt(Langs.length)), s"src${rng.nextInt(20)}", texts(i).length.toLong))
    val exact = copyOf.indices.filter(copyOf(_) >= 0).groupBy(copyOf(_)).toSeq.sortBy(_._1)
      .map { case (o, cs) => (ids(o) +: cs.map(ids(_))).sorted }
    CurateCorpus(rows.take(docs), rows.drop(docs), exact)
  }
}
