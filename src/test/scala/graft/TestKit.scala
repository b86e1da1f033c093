package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession

import graft.functions.Analyzer
import graft.model.{Bm25Params, Turn}
import graft.query.Bm25

/** Shared session + deterministic fixtures (FIXTURES.md §1-§4). */
object TestKit {

  /** Deterministic property runner over a ScalaCheck Gen (scalatestplus
    * is not in the offline cache; seeded Gen sampling is equivalent here).
    * Fails loudly if the generator stops producing values — a filtered/
    * failing Gen must not turn a property test into a vacuous pass.
    */
  def forAllSeeded[A](gen: org.scalacheck.Gen[A], n: Int)(check: A => Unit): Unit = {
    var s = org.scalacheck.rng.Seed(42L)
    var executed = 0
    (0 until n).foreach { _ =>
      gen.apply(org.scalacheck.Gen.Parameters.default, s).foreach { a =>
        check(a); executed += 1
      }
      s = s.next
    }
    assert(executed >= n / 2,
      s"property ran only $executed/$n checks — generator mostly failing")
  }

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Deterministic synthetic transcripts: Zipf(≈1.1) vocab for head-term
    * skew, mixed case, punctuation, Unicode (CJK/accents/emoji/digits),
    * a few empty/whitespace-only turns, multi-turn conversations.
    */
  object TranscriptGen {
    private val unicodeWords = Vector(
      "café", "世界", "データ", "данные", "naïve", "über", "π", "東京",
      "números", "42", "β7", "שָׁלוֹם")

    def vocab(v: Int): Vector[String] =
      (0 until v).map(i => f"term$i%04d").toVector ++ unicodeWords

    def turns(seed: Long, nConvs: Int, vocabSize: Int = 300): Seq[Turn] = {
      val rnd = new scala.util.Random(seed)
      val vs = vocab(vocabSize)
      // Zipf cumulative over the vocab
      val weights = vs.indices.map(i => 1.0 / math.pow(i + 1, 1.1))
      val total = weights.sum
      val cum = weights.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
      def word(): String = {
        val u = rnd.nextDouble()
        var lo = 0; var hi = cum.length - 1
        while (lo < hi) { val m = (lo + hi) / 2; if (cum(m) < u) lo = m + 1 else hi = m }
        vs(lo)
      }
      val roles = Array("user", "assistant", "system", "tool")
      val out = Seq.newBuilder[Turn]
      for (c <- 0 until nConvs) {
        val convId = f"conv-$c%06d"
        val len = 1 + rnd.nextInt(40)
        for (t <- 0 until len) {
          val text =
            if (rnd.nextDouble() < 0.02) { if (rnd.nextBoolean()) "" else "   \t " }
            else {
              val n = 3 + rnd.nextInt(58)
              (0 until n).map { _ =>
                var w = word()
                if (rnd.nextDouble() < 0.15) w = w.toUpperCase(java.util.Locale.ROOT)
                if (rnd.nextDouble() < 0.1) w = w + (if (rnd.nextBoolean()) "," else "!")
                w
              }.mkString(" ")
            }
          val role = roles((c + t) % 4)
          out += Turn(convId, t, role, text,
            if (role == "tool") "search" else "",
            new Timestamp(1767225600000L + c * 100000L + t * 1000L))
        }
      }
      out.result()
    }
  }

  /** Naive single-threaded BM25 — the golden source of truth
    * (FIXTURES.md §4). Shares `Analyzer.tokenize` and `Bm25.contribution`
    * with the engine so rank-identity is operation-order-identity.
    */
  object OracleBM25 {
    final case class Corpus(
        docs: Vector[(Long, String)], // (docId, text), ids dense by stable sort
        dl: Map[Long, Int],
        postings: Map[String, Map[Long, Int]],
        n: Long,
        avgdl: Double
    )

    /** Corpus from explicit (id, text) pairs — update oracles assign ids
      * that are no longer the dense sort of one turn sequence; `corpus()`
      * delegates here so the stats body has one definition.
      */
    def corpusFromDocs(docs: Vector[(Long, String)], cfg: Analyzer.Config): Corpus = {
      val toks = docs.map { case (id, text) => id -> Analyzer.tokenize(text, cfg) }
      val dl = toks.map { case (id, ts) => id -> ts.size }.toMap
      val postings = toks
        .flatMap { case (id, ts) => ts.map(t => (t, id)) }
        .groupBy(_._1).view
        .mapValues(_.groupBy(_._2).view.mapValues(_.size).toMap).toMap
      val n = docs.size.toLong
      val avgdl = if (n == 0) 0.0 else dl.values.sum.toDouble / n
      Corpus(docs, dl, postings, n, avgdl)
    }

    /** Mirrors the engine pipeline: P6 filter, stable (conv_id, turn_idx)
      * sort for docIds, analyzer tokens, N over all indexable docs.
      */
    def corpus(turns: Seq[Turn], cfg: Analyzer.Config): Corpus =
      corpusFromDocs(
        turns.filter(t => t.text != null && t.text.trim.nonEmpty)
          .sortBy(t => (t.conv_id, t.turn_idx))
          .zipWithIndex.map { case (t, i) => (i.toLong, t.text) }.toVector,
        cfg)

    def topK(c: Corpus, query: String, k: Int, cfg: Analyzer.Config,
        params: Bm25Params = Bm25Params()): Seq[(Long, Double)] = {
      val qterms = Analyzer.analyzeQuery(query, cfg) // ascending term order
        .filter { case (t, _) => c.postings.contains(t) }
      if (qterms.isEmpty) return Nil
      val idf = qterms.map { case (t, _) => t -> Bm25.idf(c.n, c.postings(t).size) }.toMap
      val scores = scala.collection.mutable.Map.empty[Long, Double]
      // ascending-term summation order (rank-identity pin, SURVEY §7.5):
      // accumulate term by term, docs discovered in term order
      val docsHit = scala.collection.mutable.SortedSet.empty[Long]
      qterms.foreach { case (t, _) => docsHit ++= c.postings(t).keys }
      docsHit.foreach { d =>
        var s = 0.0
        qterms.foreach { case (t, qtf) =>
          c.postings(t).get(d).foreach { tf =>
            s += Bm25.contribution(qtf, idf(t), tf, c.dl(d), c.avgdl, params)
          }
        }
        scores(d) = s
      }
      scores.toSeq
        .sortBy { case (d, s) => (-s, d) }
        .take(k)
    }

    /** The occurrences of the phrase `terms` in `toks`: the start
      * positions from which the words follow in order within a span of
      * (n-1)+slop (slop 0: adjacent).
      */
    def phraseTf(toks: Array[String], terms: Seq[String], slop: Int): Int = {
      val bound = terms.length - 1 + slop
      def rec(start: Int, j: Int, prev: Int): Boolean =
        if (j == terms.length) true
        else (prev + 1 until toks.length).exists { p =>
          p - start <= bound && toks(p) == terms(j) && rec(start, j + 1, p)
        }
      toks.indices.count(i => toks(i) == terms.head && rec(i, 1, i))
    }

    /** The search box's semantics (QueryEngine.search) by brute force, but
      * for a lone phrase's PhraseQuery scoring ([[phraseTopK]]): a doc that
      * `keep`s (a field filter) matches iff it holds every phrase, none of
      * the excluded terms and at least m distinct positive terms (free
      * terms, phrase words, wildcard expansions); it scores BM25 over the
      * positive terms it holds, with corpus-wide stats.
      */
    def search(c: Corpus, query: String, m: Int, k: Int, cfg: graft.index.IndexBuilder.Config,
        keep: Long => Boolean = _ => true): Seq[(Long, Double)] = {
      val pq = graft.query.QueryEngine.parseQuery(query)
      val stems = graft.query.QueryEngine.analyzePrefixStems(pq.prefixes.map(_.dropRight(1)))
      val dict = c.postings.keys.toSeq.sorted
      val expanded = stems.flatMap { case (p, n) =>
        dict.filter(_.startsWith(p)).take(graft.query.QueryEngine.PrefixExpansionCap).map(_ -> n)
      }
      val literal = Analyzer.analyzeQuery(
        (pq.free ++ pq.phrases.map(_._1)).mkString(" "), cfg.analyzer)
      val positive = (literal ++ expanded)
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq.sortBy(_._1)
        .filter { case (t, _) => c.postings.contains(t) }
      val excl = pq.excluded.flatMap(t => Analyzer.tokenize(t, cfg.analyzer)).distinct
      val phraseTerms = pq.phrases.map { case (ph, slop) =>
        (Analyzer.tokenize(ph, cfg.analyzer), slop)
      }
      if (positive.isEmpty || positive.size < m || phraseTerms.exists(_._1.isEmpty))
        return Nil
      val idf = positive.map { case (t, _) => t -> Bm25.idf(c.n, c.postings(t).size) }.toMap
      val matching = c.docs.filter { case (id, text) =>
        val toks = Analyzer.tokenize(text, cfg.analyzer).toArray
        keep(id) &&
          phraseTerms.forall { case (terms, slop) => phraseTf(toks, terms, slop) > 0 } &&
          !excl.exists(t => c.postings.get(t).exists(_.contains(id))) &&
          positive.count { case (t, _) => c.postings(t).contains(id) } >= m
      }
      matching.map { case (id, _) =>
        var s = 0.0
        positive.foreach { case (t, qtf) => // ascending-term summation order
          c.postings(t).get(id).foreach(tf =>
            s += Bm25.contribution(qtf, idf(t), tf, c.dl(id), c.avgdl, cfg.params))
        }
        (id, s)
      }.sortBy { case (d, s) => (-s, d) }.take(k).toSeq
    }

    /** A lone phrase's PhraseQuery scoring by brute force: the phrase as
      * one term, tf its occurrences, df the matching docs.
      */
    def phraseTopK(c: Corpus, phrase: String, slop: Int, k: Int,
        cfg: graft.index.IndexBuilder.Config): Seq[(Long, Double)] = {
      val terms = Analyzer.tokenize(phrase, cfg.analyzer)
      if (terms.isEmpty) return Nil
      val matches = c.docs.flatMap { case (id, text) =>
        val tfp = phraseTf(Analyzer.tokenize(text, cfg.analyzer).toArray, terms, slop)
        if (tfp > 0) Some((id, tfp)) else None
      }
      val idf = StrictMath.log((c.n + 1.0) / (matches.size + 1.0))
      matches.map { case (id, tfp) =>
        id -> Bm25.contribution(1, idf, tfp, c.dl(id), c.avgdl, cfg.params)
      }.sortBy { case (d, s) => (-s, d) }.take(k)
    }
  }
}
