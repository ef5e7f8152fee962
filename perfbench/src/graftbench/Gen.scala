package graftbench

import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded input generator. Everything the program receives comes from
  * here, and the same seed gives the same inputs. Each purpose draws
  * from its own random stream, so adding draws to one input never
  * shifts another. The generator also keeps the ledger of what it
  * planted (fences, error blobs, duplicates, epoch changes), which the
  * checks in [[Oracle]] compare the program's outputs against.
  */
final class Gen(val seed: Long) {
  import Gen._

  private def rng(stream: Int): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 7919L)

  /** A wide synthetic vocabulary of unique consonant-vowel words.
    * Words are letters only, so the word-class tokenizer keeps them
    * whole and no word can spell a chunker keyword. */
  val vocab: Array[String] = {
    val r = rng(1)
    val cons = "bcdfghjklmnprstvz"
    val vows = "aeiou"
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < VocabSize) {
      val n = 2 + r.nextInt(3)
      val sb = new StringBuilder
      (0 until n).foreach { _ =>
        sb.append(cons.charAt(r.nextInt(cons.length)))
        sb.append(vows.charAt(r.nextInt(vows.length)))
      }
      seen += sb.toString
    }
    seen.toArray
  }

  private val textZipf = new Zipf(VocabSize, 1.0)

  private def word(r: SplittableRandom): String = vocab(textZipf.draw(r))

  private def words(r: SplittableRandom, n: Int): Seq[String] =
    Seq.fill(n)(word(r))

  private def sentence(r: SplittableRandom, n: Int): String = {
    val ws = words(r, n)
    (ws.head.capitalize +: ws.tail).mkString(" ") + "."
  }

  private def paragraph(r: SplittableRandom, nWords: Int): String = {
    val out = mutable.ArrayBuffer.empty[String]
    var left = nWords
    while (left > 0) {
      val n = math.min(left, 6 + r.nextInt(10))
      out += sentence(r, n)
      left -= n
    }
    out.mkString(" ")
  }

  /** One fenced block body in the idiom of its language. Bodies never
    * start with whitespace and never contain a fence marker. */
  private def fenceBody(r: SplittableRandom, lang: String,
                        lines: Int): String = {
    def w = word(r)
    val body: Seq[String] = lang match {
      case "yaml"    => Seq.fill(lines)(s"$w: $w")
      case "json"    => "{" +: Seq.fill(lines)(s"""  "$w": "$w",""") :+ s"""  "$w": 1}"""
      case "toml"    => Seq.fill(lines)(s"""$w = "$w"""")
      case "bash" | "sh" => Seq.fill(lines)(s"$w --$w $w")
      case "http"    => s"GET /$w/$w HTTP/1.1" +: Seq.fill(lines)(s"X-$w: $w")
      case "graphql" => "query {" +: Seq.fill(lines)(s"  $w { $w }") :+ "}"
      case "python"  => s"def $w($w):" +: Seq.fill(lines)(s"    $w = $w($w)")
      case "go"      => s"func $w() {" +: Seq.fill(lines)(s"\t$w($w)") :+ "}"
      case _         => Seq.fill(lines)(s"val $w = $w($w)")
    }
    body.mkString("\n")
  }

  /** A markdown page: title, optional table-of-contents and edit-link
    * noise, header sections of paragraphs, and fenced blocks of every
    * reference class. Returns the text, its planted fences, and its
    * prose: the text without the noise lines and the fences. */
  def markdown(r: SplittableRandom, id: Long,
               proseWords: Int): (String, Seq[Fence], String) = {
    val sb = new StringBuilder
    val prose = new StringBuilder
    val fences = mutable.ArrayBuffer.empty[Fence]
    def text(s: String): Unit = { sb.append(s); prose.append(s) }
    text("# " + sentence(r, 3 + r.nextInt(4)).dropRight(1) + "\n\n")
    if (r.nextInt(100) < 15)
      sb.append("## Table of Contents\n- [Overview](#overview)\n" +
        "- [Usage](#usage)\n- [Reference](#reference)\n\n")
    if (r.nextInt(100) < 25)
      sb.append(s"[Edit this page](https://git.example.com/edit/main/docs/page-$id.md)\n\n")
    val nSections = 1 + r.nextInt(3)
    val perSection = math.max(8, proseWords / nSections)
    (0 until nSections).foreach { _ =>
      text("## " + words(r, 2 + r.nextInt(3)).mkString(" ").capitalize + "\n\n")
      val nParas = 1 + r.nextInt(3)
      (0 until nParas).foreach { _ =>
        text(paragraph(r, math.max(4, perSection / nParas)) + "\n\n")
      }
      if (r.nextInt(100) < 55) {
        val lang = FenceLangs(r.nextInt(FenceLangs.length))
        // one fence in ten runs past the chunk budget and is split by
        // lines; the rest must come back whole
        val lines = if (r.nextInt(10) == 0) 40 + r.nextInt(20) else 2 + r.nextInt(6)
        val body = fenceBody(r, lang, lines)
        fences += Fence(lang, body)
        sb.append("```").append(lang).append("\n").append(body)
          .append("\n```\n\n")
      }
    }
    (sb.toString.trim, fences.toSeq, prose.toString.trim)
  }

  private val sourceZipf = new Zipf(Sources.length, 0.8)

  private def page(r: SplittableRandom, id: Long, proseWords: Int): Doc = {
    val src = Sources(sourceZipf.draw(r))
    val (text, fences, prose) = markdown(r, id, proseWords)
    Doc(id, src, s"https://$src.example.com/p/$id", text, fences, prose)
  }

  /** The page corpus an index is built over (`cdc_sync`). */
  def servingCorpus(n: Int): IndexedSeq[Doc] = {
    val r = rng(2)
    (1 to n).map(i => page(r, i.toLong, 90 + r.nextInt(90)))
  }

  /** Queries of two distinct Zipf-skewed terms — head terms post in
    * most documents, tail terms in few — each with a source to filter
    * on. Every query has at least one term the corpus contains. */
  def queries(n: Int, df: String => Int): IndexedSeq[Query] = {
    val r = rng(3)
    val qZipf = new Zipf(VocabSize, 0.9)
    def term(): String = {
      var t = vocab(qZipf.draw(r))
      while (df(t) == 0) t = vocab(qZipf.draw(r))
      t
    }
    (0 until n).map { i =>
      val terms = Seq.fill(2)(term()).distinct
      Query(i, terms.mkString(" "), Sources(sourceZipf.draw(r)))
    }
  }

  /** CDC epochs over a live corpus: changed pages, unchanged
    * re-crawls, new pages and delete notices, each id touched at most
    * once per epoch, epoch `n` sized by `size(n)`. New ids continue
    * above the corpus. */
  def epochs(corpus: IndexedSeq[Doc], size: Int => EpochSize): Iterator[Epoch] = {
    val r = rng(4)
    val live = mutable.LinkedHashMap.empty[Long, Doc]
    corpus.foreach(d => live(d.id) = d)
    var nextId = corpus.map(_.id).max + 1
    Iterator.from(0).map { e =>
      val EpochSize(changed, unchanged, added, deleted) = size(e)
      val ids = live.keys.toArray
      val picked = mutable.LinkedHashSet.empty[Long]
      while (picked.size < changed + unchanged + deleted)
        picked += ids(r.nextInt(ids.length))
      val p = picked.toSeq
      val (chg, rest) = p.splitAt(changed)
      val (unc, del) = rest.splitAt(unchanged)
      val chgDocs = chg.map { id =>
        val old = live(id)
        val (text, fences, prose) = markdown(r, id, 90 + r.nextInt(90))
        old.copy(text = text, fences = fences, prose = prose)
      }
      val newDocs = (0 until added).map { _ =>
        val d = page(r, nextId, 90 + r.nextInt(90)); nextId += 1; d
      }
      val pages: Seq[(Long, String)] =
        chgDocs.map(d => (d.id, d.text)) ++ unc.map(id => (id, live(id).text)) ++
          newDocs.map(d => (d.id, d.text)) ++ del.map(id => (id, null: String))
      chgDocs.foreach(d => live(d.id) = d)
      newDocs.foreach(d => live(d.id) = d)
      del.foreach(live.remove)
      Epoch(e, shuffle(r, pages),
        chgDocs.map(_.id), unc, newDocs.map(_.id), del,
        live.values.toIndexedSeq)
    }
  }

  private def shuffle[T: scala.reflect.ClassTag](r: SplittableRandom, xs: Seq[T]): Seq[T] = {
    val a = xs.toArray
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  /** The batch-ingest blob corpus: markdown pages as file payloads,
    * with planted encrypted and empty blobs, exact copies and near
    * copies (one sentence added), recorded in the returned ledger. */
  def blobs(n: Int): IngestSet = {
    val r = rng(5)
    val docs = mutable.ArrayBuffer.empty[Doc]
    val encrypted = mutable.ArrayBuffer.empty[Long]
    val empty = mutable.ArrayBuffer.empty[Long]
    val exact = mutable.ArrayBuffer.empty[(Long, Long)]
    val near = mutable.ArrayBuffer.empty[(Long, Long)]
    val blobs = mutable.ArrayBuffer.empty[Blob]
    val planted = mutable.Set.empty[Long]
    var id = 1L
    while (blobs.size < n) {
      val roll = r.nextInt(100)
      if (roll < 3) {
        encrypted += id
        blobs += Blob(id, Array.fill(64)(r.nextInt(256).toByte),
          "application/x-encrypted", s"doc_$id.pdf")
      } else if (roll < 5) {
        empty += id
        blobs += Blob(id, Array.emptyByteArray, "text/markdown", s"doc_$id.md")
      } else if (roll < 9 && docs.nonEmpty) {
        // an exact copy of an earlier unplanted page, under a new id
        val base = docs(r.nextInt(docs.size))
        if (!planted(base.id)) {
          exact += ((base.id, id)); planted += base.id; planted += id
          docs += base.copy(id = id)
          blobs += Blob(id, base.text.getBytes("UTF-8"), "text/markdown",
            s"doc_$id.md")
        } else id -= 1
      } else if (roll < 13 && docs.nonEmpty) {
        // a near copy: an earlier page with one short sentence added
        val base = docs(r.nextInt(docs.size))
        if (!planted(base.id)) {
          val added = sentence(r, 6)
          val text = base.text + "\n\n" + added
          near += ((base.id, id)); planted += base.id; planted += id
          docs += base.copy(id = id, text = text, prose = base.prose + "\n\n" + added)
          blobs += Blob(id, text.getBytes("UTF-8"), "text/markdown",
            s"doc_$id.md")
        } else id -= 1
      } else {
        val d = page(r, id, 160 + r.nextInt(160))
        docs += d
        blobs += Blob(id, d.text.getBytes("UTF-8"), "text/markdown",
          s"doc_$id.md")
      }
      id += 1
    }
    IngestSet(blobs.toIndexedSeq, docs.toIndexedSeq, encrypted.toSeq,
      empty.toSeq, exact.toSeq, near.toSeq)
  }
}

object Gen {
  val VocabSize = 16000
  val Sources: IndexedSeq[String] =
    IndexedSeq("docs", "api", "guides", "blog", "forum", "wiki")
  /** One language per reference fence class and then some:
    * yaml/json/toml → config, bash/sh → cmd, http/graphql → api,
    * the rest → code. */
  val FenceLangs: IndexedSeq[String] =
    IndexedSeq("yaml", "json", "toml", "bash", "sh", "http", "graphql",
      "python", "go", "scala")

  /** How a query is served: hybrid (alpha 0.5), BM25 (alpha 0), or
    * BM25 restricted to the query's source. */
  sealed trait Kind
  case object Hybrid extends Kind
  case object Bm25 extends Kind
  case object Filtered extends Kind

  final case class Fence(lang: String, body: String)
  final case class Doc(id: Long, source: String, url: String, text: String,
                       fences: Seq[Fence] = Nil, prose: String = "")
  final case class EpochSize(changed: Int, unchanged: Int, added: Int, deleted: Int)
  final case class Query(qid: Long, text: String, source: String)
  final case class Epoch(n: Int, pages: Seq[(Long, String)], changed: Seq[Long],
                         unchanged: Seq[Long], added: Seq[Long],
                         deleted: Seq[Long], liveAfter: IndexedSeq[Doc])
  final case class Blob(id: Long, payload: Array[Byte], mime: String,
                        filename: String)
  final case class IngestSet(blobs: IndexedSeq[Blob], docs: IndexedSeq[Doc],
                             encrypted: Seq[Long], empty: Seq[Long],
                             exactCopies: Seq[(Long, Long)],
                             nearCopies: Seq[(Long, Long)])

  /** Zipf(s) over ranks 0 until n, sampled by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    def draw(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }
}
