package graftbench

import scala.collection.mutable

/** Checks made apart from the program: a plain-Scala BM25 over the
  * generator's corpus, and properties every served result must have.
  * Each check returns `None` when it holds and `Some(reason)` when it
  * does not. [[selfTest]] feeds every check a corrupted expectation
  * and fails the run if any check lets it through.
  */
object Oracle {
  val K1 = 1.2
  val B = 0.75

  private val WordRe = "[\\p{L}\\p{N}]+".r

  /** Weaviate word-class tokens: lowercase alphanumeric runs. */
  def tokens(text: String): Array[String] =
    WordRe.findAllIn(text.toLowerCase).toArray

  def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** BM25 (k1 1.2, b 0.75) statistics over a fixed document set. */
  final class Bm25(docs: Iterable[(Long, String)]) {
    private val dl = mutable.HashMap.empty[Long, Int]
    private val post = mutable.HashMap.empty[String, mutable.ArrayBuffer[(Long, Int)]]
    docs.foreach { case (id, text) =>
      val toks = tokens(text)
      dl(id) = toks.length
      toks.groupBy(identity).foreach { case (t, occ) =>
        post.getOrElseUpdate(t, mutable.ArrayBuffer.empty) += ((id, occ.length))
      }
    }
    val nDocs: Long = dl.size.toLong
    val sumTokens: Long = dl.values.map(_.toLong).sum
    private val avgdl = sumTokens.toDouble / nDocs.toDouble

    def df(term: String): Int = post.get(term).fold(0)(_.size)

    /** Score of every document containing a query term; each query
      * term occurrence adds its own weight, in query order. */
    def scores(terms: Seq[String]): Map[Long, Double] = {
      val per = terms.map { t =>
        val ps = post.getOrElse(t, mutable.ArrayBuffer.empty)
        val d = ps.size.toDouble
        val idf = StrictMath.log(1.0 + (nDocs.toDouble - d + 0.5) / (d + 0.5))
        ps.map { case (id, tf0) =>
          val tf = tf0.toDouble
          id -> idf * (tf * (K1 + 1.0)) /
            (tf + K1 * ((1.0 - B) + B * dl(id).toDouble / avgdl))
        }.toMap
      }
      val ids = per.flatMap(_.keys).toSet
      ids.iterator.map { id =>
        id -> round6(per.map(_.getOrElse(id, 0.0)).reduce(_ + _))
      }.toMap
    }
  }

  /** Top `limit` of a score map by (score desc, id asc). */
  def topK(scores: Map[Long, Double], limit: Int): Seq[(Long, Double)] =
    scores.toSeq.sortBy { case (id, s) => (-s, id) }.take(limit)

  /** A ranked list agrees with expected scores: same length, every
    * hit scored as expected within `tol`, scores non-increasing, and
    * no expected document outscoring the last hit left out. Ties at
    * the cut may fall either way. */
  def checkRanked(got: Seq[(Long, Double)], expected: Map[Long, Double],
                  limit: Int, tol: Double): Option[String] = {
    val want = math.min(limit, expected.size)
    if (got.size != want) return Some(s"got ${got.size} hits, expected $want")
    got.find { case (id, s) =>
      expected.get(id).forall(e => math.abs(e - s) > tol)
    }.foreach { case (id, s) =>
      return Some(s"hit $id scored $s, expected ${expected.get(id)}")
    }
    nonIncreasing(got.map(_._2)).foreach(e => return Some(e))
    if (got.nonEmpty) {
      val floor = got.last._2 + tol
      val ids = got.map(_._1).toSet
      expected.find { case (id, s) => s > floor && !ids(id) }.foreach {
        case (id, s) => return Some(s"doc $id (score $s) missing from the hits")
      }
    }
    None
  }

  def nonIncreasing(xs: Seq[Double]): Option[String] =
    xs.sliding(2).collectFirst {
      case Seq(a, b) if b > a => s"scores increase: $a then $b"
    }

  /** Hybrid properties: at most `limit` hits, scores in [0, 1] and
    * non-increasing, no deleted id, each hit's content equal to the
    * generator's text for that id. */
  def checkHybrid(got: Seq[(Long, Double, String)], limit: Int,
                  text: Long => Option[String]): Option[String] = {
    if (got.size > limit) return Some(s"${got.size} hits > limit $limit")
    got.find { case (_, s, _) => s < 0.0 || s > 1.0 }
      .foreach(h => return Some(s"score ${h._2} of ${h._1} outside [0, 1]"))
    nonIncreasing(got.map(_._2)).foreach(e => return Some(e))
    checkContent(got.map(h => (h._1, h._3)), text)
  }

  def checkContent(got: Seq[(Long, String)],
                   text: Long => Option[String]): Option[String] =
    got.collectFirst {
      case (id, c) if !text(id).contains(c) =>
        if (text(id).isEmpty) s"served id $id is not live"
        else s"content of $id differs from the generated text"
    }

  /** Token-overlap Jaccard of a document against the query terms. */
  def rerankScore(text: String, terms: Seq[String]): Double = {
    val d = tokens(text).toSet
    val q = terms.toSet
    (d intersect q).size.toDouble / (d union q).size.toDouble
  }

  /** A source-filtered alpha = 0 serve: the BM25 leg over the
    * filtered corpus, min-max normalized over its top 50 candidates.
    * Hits with a positive score must be those; zero-score hits come
    * from the vector leg and need only pass the filter. */
  def checkFiltered(got: Seq[(Long, Double)], bm: Bm25, terms: Seq[String],
                    limit: Int, inFilter: Long => Boolean): Option[String] = {
    val want = math.min(limit.toLong, bm.nDocs)
    if (got.size != want) return Some(s"got ${got.size} hits, expected $want")
    got.find(h => !inFilter(h._1)).foreach(h =>
      return Some(s"hit ${h._1} does not pass the filter"))
    nonIncreasing(got.map(_._2)).foreach(e => return Some(e))
    val cands = topK(bm.scores(terms), 50)
    val norm: Map[Long, Double] =
      if (cands.isEmpty) Map.empty
      else {
        val lo = cands.map(_._2).min
        val hi = cands.map(_._2).max
        cands.map { case (id, s) =>
          id -> (if (hi == lo) 0.5 else round6((s - lo) / (hi - lo)))
        }.toMap
      }
    val span = if (cands.isEmpty) 1.0 else cands.head._2 - cands.last._2
    val tol = 2e-6 + 4e-6 / math.max(span, 1e-6)
    val positive = norm.filter(_._2 > 0.0)
    checkRanked(got.filter(_._2 > 0.0), positive, limit, tol)
  }

  /** Reranked hits (doc_id, rerank_score): at most `limit`, each
    * score the Jaccard of the generated text against the query terms,
    * scores non-increasing. */
  def checkRerank(got: Seq[(Long, Double)], text: Long => Option[String],
                  terms: Seq[String], limit: Int): Option[String] = {
    if (got.size > limit) return Some(s"${got.size} reranked hits > limit $limit")
    got.collectFirst {
      case (id, s) if !text(id).map(rerankScore(_, terms)).contains(s) =>
        return Some(s"rerank score $s of $id differs from the token Jaccard")
    }
    nonIncreasing(got.map(_._2))
  }

  /** Index statistics against the live corpus. */
  def checkStats(nDocs: Long, sumTokens: Long, bm: Bm25): Option[String] =
    if (nDocs == bm.nDocs && sumTokens == bm.sumTokens) None
    else Some(s"index stats ($nDocs docs, $sumTokens tokens), live corpus " +
      s"(${bm.nDocs}, ${bm.sumTokens})")

  /** Two result lists identical: same ids in the same order, same
    * scores. */
  def checkSame(a: Seq[(Long, Double)], b: Seq[(Long, Double)],
                what: String): Option[String] =
    if (a == b) None else Some(s"$what differ: $a vs $b")

  /** Chunk rows of one ingest pass: (doc_id, status, chunk_index). */
  def checkChunkRows(rows: Seq[(Long, String, Int)], encrypted: Seq[Long],
                     empty: Seq[Long], okIds: Set[Long]): Option[String] = {
    val byDoc = rows.groupBy(_._1)
    def errRow(id: Long, status: String): Option[String] =
      byDoc.get(id) match {
        case Some(Seq((_, s, -1))) if s == status => None
        case other => Some(s"error blob $id: expected one $status row, got $other")
      }
    encrypted.foreach(id => errRow(id, "error_encrypted").foreach(e => return Some(e)))
    empty.foreach(id => errRow(id, "error_empty").foreach(e => return Some(e)))
    okIds.foreach { id =>
      val idx = byDoc.getOrElse(id, Nil).map(_._3).sorted
      if (idx.isEmpty) return Some(s"ok doc $id has no chunks")
      if (idx != idx.indices) return Some(s"doc $id chunk_index not contiguous from 0: $idx")
    }
    None
  }

  def fenceClass(lang: String): String = lang match {
    case "yaml" | "json" | "toml" => "config"
    case "bash" | "sh" | "shell" => "cmd"
    case "http" | "graphql" | "openapi" | "swagger" => "api"
    case _ => "code"
  }

  /** Stored chunks (doc_id, content, chunk_type, language): every
    * planted fence within the budget appears whole in exactly one
    * chunk, with its class and language; no prose chunk exceeds the
    * budget. */
  def checkChunks(chunks: Seq[(Long, String, String, String)],
                  fences: Map[Long, Seq[Gen.Fence]],
                  maxTokens: Int): Option[String] = {
    val byDoc = chunks.groupBy(_._1)
    fences.foreach { case (id, fs) =>
      val cs = byDoc.getOrElse(id, Nil)
      fs.filter(_.body.length / 4 <= maxTokens).foreach { f =>
        val whole = s"```${f.lang}\n${f.body}\n```"
        val hits = cs.filter(_._2.contains(whole))
        if (hits.size != 1)
          return Some(s"fence of doc $id (${f.lang}) in ${hits.size} chunks")
        val (_, c, t, l) = hits.head
        if (c != whole || t != fenceClass(f.lang) || l != f.lang)
          return Some(s"fence of doc $id came back as ($t, $l), not whole or misclassed")
      }
    }
    chunks.collectFirst {
      case (id, c, "prose", _) if c.length > maxTokens * 4 =>
        s"prose chunk of doc $id has ${c.length} chars > ${maxTokens * 4}"
    }
  }

  /** Word tokens a gap between two prose chunks may lose: two noise
    * fragments can meet at one gap. */
  val MaxProseGap = 6

  /** Stored prose chunks against the generator's prose: for each
    * document, the word tokens of its prose chunks (empty language),
    * in chunk order, continue its prose tokens chunk after chunk, each
    * chunk whole. Before each chunk and at the end, the tokens skipped
    * must be fragments the chunker's noise filter drops (at most three
    * words and under 30 characters, when split off on their own): a
    * whole header line left alone because the section's first
    * paragraph did not fit beside it, or the last words of a paragraph
    * longer than the budget, split off word by word. `chunks` holds
    * (doc_id, chunk_index, content, language); `prose` maps every ok
    * document to its text without the noise lines and the fences. */
  def checkProse(chunks: Seq[(Long, Int, String, String)], prose: Map[Long, String],
                 maxTokens: Int): Option[String] = {
    val byDoc = chunks.filter(c => c._4 == null || c._4.isEmpty).groupBy(_._1)
    prose.foreach { case (id, p) =>
      val want = WordRe.findAllMatchIn(p).toArray
      val wantToks = want.map(_.matched.toLowerCase)
      def gap(from: Int, until: Int, where: String): Option[String] =
        if (until - from > MaxProseGap)
          Some(s"doc $id: ${until - from} prose tokens missing $where")
        else droppedFragments(p, want.slice(from, until).map(m => (m.start, m.end)),
          maxTokens * 4).map(f => s"doc $id: prose '$f' missing $where")
      var pos = 0
      byDoc.getOrElse(id, Nil).sortBy(_._2).foreach { case (_, idx, content, _) =>
        val got = tokens(content)
        val skip = (0 to MaxProseGap).find(s => wantToks.slice(pos + s, pos + s + got.length)
          .sameElements(got))
        if (skip.isEmpty)
          return Some(s"prose chunk $idx of doc $id does not continue its prose " +
            s"at token $pos of ${want.length}")
        gap(pos, pos + skip.get, s"before chunk $idx").foreach(e => return Some(e))
        pos += skip.get + got.length
      }
      gap(pos, want.length, "at the end").foreach(e => return Some(e))
    }
    None
  }

  /** The first run of skipped tokens (start, end offsets in `p`) that
    * is not a fragment the noise filter may drop, or None. Runs split
    * at paragraph breaks. */
  private def droppedFragments(p: String, toks: Seq[(Int, Int)],
                               maxChars: Int): Option[String] = {
    if (toks.isEmpty) return None
    val runs = toks.tail.foldLeft(Vector(Vector(toks.head))) { (acc, t) =>
      if (p.substring(acc.last.last._2, t._1).contains("\n\n")) acc :+ Vector(t)
      else acc.init :+ (acc.last :+ t)
    }
    def paraStart(i: Int): Int = { val k = p.lastIndexOf("\n\n", i); if (k < 0) 0 else k + 2 }
    def paraEnd(i: Int): Int = { val k = p.indexOf("\n\n", i); if (k < 0) p.length else k }
    def noise(f: String): Boolean = f.length < 30 && f.split("\\s+").length <= 3
    runs.map { run =>
      val (a, b) = (run.head._1, run.last._2)
      val lineStart = p.lastIndexOf('\n', a) + 1
      val lineEnd = { val k = p.indexOf('\n', b); if (k < 0) p.length else k }
      val header = p.substring(lineStart, a).matches("#{1,6} ") &&
        p.substring(b, lineEnd).forall(c => !c.isLetterOrDigit) &&
        noise(p.substring(lineStart, lineEnd).trim)
      val end = paraEnd(b)
      val tail = p.substring(b, end).forall(c => !c.isLetterOrDigit) &&
        end - paraStart(a) > maxChars &&
        noise(p.substring(p.lastIndexWhere(_.isWhitespace, a) + 1, end).trim)
      if (header || tail) None else Some(p.substring(a, b))
    }.collectFirst { case Some(f) => f }
  }

  /** prepareCorpus survivors: every exact copy dropped with the lowest
    * id of its group kept, no near-copy pair surviving whole, every
    * unplanted document kept. */
  def checkPrepared(kept: Set[Long], okIds: Set[Long],
                    exact: Seq[(Long, Long)],
                    near: Seq[(Long, Long)]): Option[String] = {
    exact.foreach { case (keep, drop) =>
      if (!kept(keep) || kept(drop))
        return Some(s"exact copies ($keep, $drop): kept ${kept(keep)}, ${kept(drop)}")
    }
    near.foreach { case (a, b) =>
      if (kept(a) && kept(b)) return Some(s"near copies ($a, $b) both survived")
    }
    val planted = (exact ++ near).flatMap { case (a, b) => Seq(a, b) }.toSet
    (okIds -- planted).find(!kept(_)).map(id => s"unplanted doc $id was dropped")
  }

  /** Per-source live counts against the generator's. */
  def checkCounts(got: Map[String, Long],
                  expected: Map[String, Long]): Option[String] =
    if (got == expected) None else Some(s"per-source counts $got, expected $expected")

  /** Every check must reject a corrupted expectation and accept the
    * true one; returns the checks that did not. */
  def selfTest(): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    def expect(name: String, ok: Option[String], corrupt: Option[String]): Unit = {
      if (ok.isDefined) bad += s"$name rejected a true expectation: ${ok.get}"
      if (corrupt.isEmpty) bad += s"$name accepted a corrupted expectation"
    }
    val docs = Seq(1L -> "alpha beta beta gamma", 2L -> "beta delta",
      3L -> "gamma gamma alpha epsilon zeta", 4L -> "eta theta")
    val bm = new Bm25(docs)
    val sc = bm.scores(Seq("beta", "gamma"))
    val top = topK(sc, 2)
    expect("bm25 ranking", checkRanked(top, sc, 2, 2e-6),
      checkRanked(top, sc.updated(top.head._1, top.head._2 + 0.01), 2, 2e-6))
    expect("bm25 cut", checkRanked(top, sc, 2, 2e-6),
      checkRanked(top.take(1), sc, 2, 2e-6))
    expect("index stats", checkStats(4L, 13L, bm), checkStats(4L, 12L, bm))
    val text = docs.toMap
    val hy = Seq((1L, 0.9, text(1L)), (3L, 0.4, text(3L)))
    expect("hybrid properties", checkHybrid(hy, 10, text.get),
      checkHybrid(hy, 10, text.updated(3L, "other text").get))
    expect("hybrid order", checkHybrid(hy, 10, text.get),
      checkHybrid(hy.reverse, 10, text.get))
    expect("hybrid limit", checkHybrid(hy, 2, text.get), checkHybrid(hy, 1, text.get))
    expect("deleted ids", checkContent(Seq(2L -> text(2L)), text.get),
      checkContent(Seq(2L -> text(2L)), (text - 2L).get))
    expect("same result", checkSame(top, top, "results"),
      checkSame(top, top.map { case (i, s) => (i, s + 1e-6) }, "results"))
    val rows = Seq((1L, "ok", 0), (1L, "ok", 1), (2L, "error_encrypted", -1),
      (3L, "error_empty", -1))
    expect("chunk rows", checkChunkRows(rows, Seq(2L), Seq(3L), Set(1L)),
      checkChunkRows(rows, Seq(2L), Seq(3L), Set(1L, 4L)))
    expect("chunk index", checkChunkRows(rows, Seq(2L), Seq(3L), Set(1L)),
      checkChunkRows(rows.filterNot(_._3 == 0), Seq(2L), Seq(3L), Set(1L)))
    val f = Gen.Fence("yaml", "a: b\nc: d")
    val chunks = Seq((1L, "Some prose here.", "prose", ""),
      (1L, "```yaml\na: b\nc: d\n```", "config", "yaml"))
    expect("fences", checkChunks(chunks, Map(1L -> Seq(f)), 16),
      checkChunks(chunks, Map(1L -> Seq(f.copy(lang = "json"))), 16))
    expect("prose budget", checkChunks(chunks, Map.empty, 16),
      checkChunks(chunks, Map.empty, 3))
    val prose = Map(1L -> ("# Title words here\n\n## Head two\n\n" +
      "Alpha beta gamma delta epsilon zeta eta theta iota kappa lam.\n\n" +
      "Short para here ok."))
    // budget 8 tokens (32 chars): the lone header and the tail "lam."
    // are dropped as noise
    val proseChunks = Seq((1L, 0, "# Title words here", ""),
      (1L, 1, "```yaml\na: b\n```", "yaml"),
      (1L, 2, "Alpha beta gamma delta epsilon", ""), (1L, 3, "zeta eta theta iota kappa", ""),
      (1L, 4, "Short para here ok.", ""))
    expect("prose content", checkProse(proseChunks, prose, 8),
      checkProse(proseChunks.updated(2, (1L, 2, "Alpha beta gamma dalta epsilon", "")), prose, 8))
    expect("prose order", checkProse(proseChunks, prose, 8),
      checkProse(proseChunks.map(c => if (c._2 == 2) c.copy(_2 = 5) else c), prose, 8))
    expect("prose lost", checkProse(proseChunks, prose, 8),
      checkProse(proseChunks.filterNot(_._2 == 2), prose, 8))
    expect("prose word lost", checkProse(proseChunks, prose, 8),
      checkProse(proseChunks.updated(4, (1L, 4, "Short para here", "")), prose, 8))
    expect("prose title lost", checkProse(proseChunks, prose, 8),
      checkProse(proseChunks.filterNot(_._2 == 0), prose, 8))
    expect("prepare", checkPrepared(Set(1L, 3L, 5L), Set(1L, 2L, 3L, 4L, 5L),
        Seq(1L -> 2L), Seq(3L -> 4L)),
      checkPrepared(Set(1L, 3L, 4L, 5L), Set(1L, 2L, 3L, 4L, 5L),
        Seq(1L -> 2L), Seq(3L -> 4L)))
    expect("prepare unplanted", checkPrepared(Set(1L, 3L, 5L),
        Set(1L, 2L, 3L, 4L, 5L), Seq(1L -> 2L), Seq(3L -> 4L)),
      checkPrepared(Set(1L, 3L), Set(1L, 2L, 3L, 4L, 5L),
        Seq(1L -> 2L), Seq(3L -> 4L)))
    val fbm = new Bm25(docs.filter(_._1 != 4L))
    val fsc = checkFiltered(Seq((1L, 1.0), (3L, 0.0)), fbm, Seq("alpha"), 2,
      _ != 4L)
    expect("filtered", fsc,
      checkFiltered(Seq((1L, 1.0), (4L, 0.0)), fbm, Seq("alpha"), 2, _ != 4L))
    expect("counts", checkCounts(Map("a" -> 2L), Map("a" -> 2L)),
      checkCounts(Map("a" -> 2L), Map("a" -> 3L)))
    val rr = Seq((3L, rerankScore(text(3L), Seq("gamma", "zeta"))),
      (1L, rerankScore(text(1L), Seq("gamma", "zeta"))))
    expect("rerank", checkRerank(rr, text.get, Seq("gamma", "zeta"), 10),
      checkRerank(rr.reverse, text.get, Seq("gamma", "zeta"), 10))
    bad.toSeq
  }
}
