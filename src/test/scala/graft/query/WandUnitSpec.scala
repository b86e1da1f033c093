package graft.query

import org.scalatest.funsuite.AnyFunSuite

import graft.TestKit.OracleBM25
import graft.functions.Analyzer
import graft.index.{Codec, DocIdSet, IndexBuilder}
import graft.index.Codec.P
import graft.model.PostingBlock
import graft.query.QueryEngine.{BoolQuery, BoolScorer, QTerm}

/** Direct unit tests of the block-max WAND scorer with its
  * minimum-should-match constraint and per-document checks
  * ([[QueryEngine.BoolScorer]]) against a scalar exhaustive oracle over
  * the SAME encoded blocks — no Spark involved, so adversarial block
  * layouts (weak current block, docId ties at the pivot, multi-block
  * lists, too few matches at the pivot, phrase words on the pivot doc but
  * apart) can be constructed exactly. A lone phrase's per-task counts and
  * candidates are checked through the driver's finish.
  */
class WandUnitSpec extends AnyFunSuite {

  private val k1 = 1.2
  private val b = 0.75

  private def blk(shard: Int, term: String, idx: Int, ps: Seq[P],
      positions: Seq[Array[Int]] = Nil): PostingBlock =
    PostingBlock(shard, term, idx, ps.head.docId, ps.last.docId, ps.size,
      ps.map(_.tf).max, ps.map(_.dl).min, ps.map(_.tf.toLong).sum,
      Codec.encode(ps),
      if (positions.isEmpty) Array.emptyByteArray else Codec.encodePositions(positions))

  private def docsOf(blocks: Seq[PostingBlock], term: String): Seq[P] =
    blocks.filter(_.term == term).sortBy(b => (b.shardId, b.minDocId))
      .flatMap(blkk => Codec.decode(blkk.payload, blkk.n))

  /** Whether `toks` holds `words` as a strictly increasing position chain
    * spanning at most (n-1)+slop (the phrase semantics), by exhaustive
    * search over every chain.
    */
  private def hasChain(toks: Array[String], words: Seq[String], slop: Int): Boolean = {
    val bound = words.length - 1 + slop
    def rec(start: Int, j: Int, prev: Int): Boolean =
      j == words.length || (prev + 1 until toks.length).exists { p =>
        p - start <= bound && toks(p) == words(j) && rec(start, j + 1, p)
      }
    toks.indices.exists(i => toks(i) == words.head && rec(i, 1, i))
  }

  /** Scalar exhaustive top-k over decoded blocks (same formula, same
    * ascending-term summation, same tie-break): docs holding >= m of the
    * query terms, none of the excluded terms, every phrase (checked on the
    * docs' token streams `texts`), in the allow-list, and not in `dead`.
    */
  private def exhaustive(blocks: Seq[PostingBlock], q: BoolQuery, k: Int,
      avgdl: Double, dead: Set[Long] = Set.empty,
      texts: Map[Long, Array[String]] = Map.empty): Seq[(Long, Double)] = {
    val scores = scala.collection.mutable.Map.empty[Long, Double].withDefaultValue(0.0)
    val matches = scala.collection.mutable.Map.empty[Long, Int].withDefaultValue(0)
    q.terms.sortBy(_.term).foreach { qt =>
      docsOf(blocks, qt.term).foreach { p =>
        scores(p.docId) += qt.weight *
          (p.tf * (k1 + 1.0) / (p.tf + k1 * (1.0 - b + b * p.dl / avgdl)))
        matches(p.docId) += 1
      }
    }
    val excluded = q.excluded.flatMap(docsOf(blocks, _)).map(_.docId).toSet
    scores.toSeq
      .filter { case (d, _) =>
        matches(d) >= q.m && !excluded(d) && !dead(d) && q.allow.forall(_.contains(d)) &&
          q.phrases.forall { case (words, slop) => hasChain(texts(d), words, slop) }
      }
      .sortBy { case (d, s) => (-s, d) }.take(k)
  }

  /** The top k of one task's (score desc, docId asc) list. */
  private def pairs(r: QueryEngine.Ranked): Seq[(Long, Double)] = r.docIds.toSeq.zip(r.scores)

  /** Every query of `queries` in ONE scoreTask call over the shard groups
    * in ascending shard order (one scan task), per qid in rank order.
    */
  private def scored(blocks: Seq[PostingBlock], queries: Seq[BoolQuery], k: Int,
      avgdl: Double, tombstones: DocIdSet = DocIdSet.empty)
      : Map[String, Seq[(Long, Double)]] = {
    val sorted = blocks.sortBy(b => (b.shardId, b.term, b.minDocId))
    val byQuery = BoolScorer.scoreTask(sorted.iterator.buffered, queries, k,
      k1, b, avgdl, tombstones).toMap
    queries.indices.map(i => queries(i).qid -> byQuery.get(i).fold(Seq.empty[(Long, Double)])(pairs))
      .toMap
  }

  private def wand(qts: Seq[QTerm], m: Int = 1): BoolQuery =
    BoolQuery("q", qts.sortBy(_.term), Nil, m)

  test("skip bound covers ALL cursors tied at the pivot (adversarial layout)") {
    // Term a: weak first block (maxTf=1) containing doc 5, strong later
    // block (doc 9, tf=100) that inflates a's GLOBAL upper bound past theta.
    // Term b: doc 5 sits in a strong block (tf=50). After doc 1 sets
    // theta, both cursors tie at doc 5; a prefix-only pivot stops at a
    // (globalUb_a > theta), and a's current-block bound alone is <= theta —
    // an unsound skip would drop doc 5, the true top-1.
    val blocks = Seq(
      blk(0, "a", 0, Seq(P(1, 1, 10), P(5, 1, 10))),
      blk(0, "a", 1, Seq(P(9, 100, 10))),
      blk(0, "b", 0, Seq(P(1, 1, 10))),
      blk(0, "b", 1, Seq(P(5, 50, 10))))
    val q = wand(Seq(QTerm("a", 1.0), QTerm("b", 1.0)))
    val want = exhaustive(blocks, q, 1, avgdl = 10.0)
    val got = scored(blocks, Seq(q), 1, avgdl = 10.0)("q")
    assert(want.head._1 == 5L, "fixture must make doc 5 the true top-1")
    assert(got == want, s"WAND dropped the tied pivot: got $got want $want")
  }

  test("match count, not theta, holds the pivot back (adversarial layout)") {
    // Term a carries a huge weight, so its cursor alone beats any θ — a
    // pivot chosen on the upper-bound sum only stops at a's first doc.
    // Doc 1 holds a ALONE and is the best m = 1 answer; under m = 2 it
    // must never be scored: the pivot has to wait for the second cursor
    // (doc 2 = {b, c}, doc 3 = {a, b} qualify).
    val blocks = Seq(
      blk(0, "a", 0, Seq(P(1, 50, 10), P(3, 5, 10))),
      blk(0, "b", 0, Seq(P(2, 3, 10), P(3, 2, 10))),
      blk(0, "c", 0, Seq(P(2, 4, 10))))
    val qts = Seq(QTerm("a", 10.0), QTerm("b", 1.0), QTerm("c", 1.0))
    assert(scored(blocks, Seq(wand(qts)), 1, avgdl = 10.0)("q").map(_._1) == Seq(1L),
      "fixture must make the one-term doc 1 the m = 1 top-1")
    (1 to 3).foreach { k =>
      val want = exhaustive(blocks, wand(qts, m = 2), k, avgdl = 10.0)
      val got = scored(blocks, Seq(wand(qts, m = 2)), k, avgdl = 10.0)("q")
      assert(want.map(_._1) == Seq(3L, 2L).take(k), s"fixture: $want")
      assert(got == want, s"k=$k: a doc with < m terms reached the heap: got $got want $want")
    }
  }

  test("phrase words on the pivot doc but apart: the positional check rejects the doc") {
    // (1-based positions) doc 1 = "a x b": both phrase words sit on the pivot doc, two apart;
    // doc 2 = "y a b y": a then b adjacent. Doc 1 outscores doc 2 on the
    // terms (shorter doc), so a scorer that skips the positional check
    // ranks it first
    val blocks = Seq(
      blk(0, "a", 0, Seq(P(1, 1, 3), P(2, 1, 4)), Seq(Array(1), Array(2))),
      blk(0, "b", 0, Seq(P(1, 1, 3), P(2, 1, 4)), Seq(Array(3), Array(3))))
    val texts = Map(1L -> Array("a", "x", "b"), 2L -> Array("y", "a", "b", "y"))
    val qts = Seq(QTerm("a", 1.0), QTerm("b", 1.0))
    assert(scored(blocks, Seq(wand(qts)), 2, avgdl = 3.5)("q").map(_._1) == Seq(1L, 2L),
      "fixture must make doc 1 the unfiltered top-1")
    Seq(0 -> Seq(2L), 1 -> Seq(1L, 2L)).foreach { case (slop, ids) =>
      val q = BoolQuery("q", qts, Nil, 2, Seq((Seq("a", "b"), slop)))
      val want = exhaustive(blocks, q, 2, avgdl = 3.5, texts = texts)
      assert(want.map(_._1) == ids, s"fixture at slop $slop: $want")
      assert(scored(blocks, Seq(q), 2, avgdl = 3.5)("q") == want,
        s"slop $slop: the positional check let a non-matching doc through")
    }
  }

  test("randomized block layouts: BoolScorer == exhaustive for 300 corpora, any m") {
    // m in {1, 2, n}, with and without exclusions, 0-2 phrases (1-3 words,
    // slop 0-2, repeated words allowed), with and without an allow-list,
    // with and without tombstones, one or two shards; every query of a
    // corpus is scored both in one batched call and alone
    val rnd = new scala.util.Random(20260816L)
    var msmExcl = 0
    var phrased = 0
    (1 to 300).foreach { iter =>
      val nTerms = 2 + rnd.nextInt(3)
      val terms = (0 until nTerms).map(i => s"t$i")
      val exclTerms = Seq("x0", "x1")
      val nDocs = 3 + rnd.nextInt(20)
      val blockSize = 2 + rnd.nextInt(2)
      // each doc a token stream of query terms, exclusion terms and a
      // filler that only lengthens it; postings and positions derive from it
      val texts: Map[Long, Array[String]] = (1 to nDocs).map { d =>
        d.toLong -> Array.fill(2 + rnd.nextInt(24)) {
          val r = rnd.nextDouble()
          if (r < 0.06) exclTerms(rnd.nextInt(2))
          else if (r < 0.7) terms(rnd.nextInt(nTerms))
          else "f"
        }
      }.toMap
      val avgdl = texts.values.map(_.length).sum.toDouble / nDocs
      // docId-range shards: one or two per corpus
      val shardOf: Long => Int = if (rnd.nextBoolean()) _ => 0 else d => if (d > nDocs / 2) 1 else 0
      val blocks = (terms ++ exclTerms).flatMap { t =>
        val postings = texts.toSeq.sortBy(_._1).flatMap { case (d, toks) =>
          val pos = toks.indices.filter(toks(_) == t).map(_ + 1).toArray // 1-based
          if (pos.isEmpty) None else Some((P(d, pos.length, toks.length), pos))
        }
        postings.groupBy(p => shardOf(p._1.docId)).toSeq.flatMap { case (shard, ps) =>
          ps.grouped(blockSize).zipWithIndex.map { case (bps, bi) =>
            blk(shard, t, bi, bps.map(_._1), bps.map(_._2))
          }
        }
      }
      val dead: Set[Long] =
        if (rnd.nextBoolean()) Set.empty
        else (1 to nDocs).filter(_ => rnd.nextDouble() < 0.15).map(_.toLong).toSet
      val tombstones = DocIdSet.fromIds(dead.toArray)
      val qts = terms.map(t => QTerm(t, 0.5 + rnd.nextDouble() * 2.0))
      val queries = for {
        m <- Seq(1, 2, nTerms).distinct
        excl <- Seq(Nil, exclTerms.take(1 + rnd.nextInt(2)))
      } yield {
        val phrases = Seq.fill(rnd.nextInt(3)) {
          (Seq.fill(1 + rnd.nextInt(3))(terms(rnd.nextInt(nTerms))), rnd.nextInt(3))
        }
        val allow =
          if (rnd.nextBoolean()) None
          else Some(DocIdSet.fromIds(
            (1 to nDocs).filter(_ => rnd.nextDouble() < 0.7).map(_.toLong).toArray))
        // the count condition as the engine raises it: max(m, |phrase words|)
        BoolQuery(s"m$m-x${excl.size}", qts, excl,
          math.max(m, phrases.flatMap(_._1).distinct.size), phrases, allow)
      }
      (1 to 3).foreach { k =>
        val batch = scored(blocks, queries, k, avgdl, tombstones)
        queries.foreach { q =>
          val want = exhaustive(blocks, q, k, avgdl, dead, texts)
          assert(batch(q.qid) == want,
            s"iter=$iter k=$k ${q.qid}: batched got ${batch(q.qid)} want $want")
          val alone = scored(blocks, Seq(q), k, avgdl, tombstones)(q.qid)
          assert(alone == want, s"iter=$iter k=$k ${q.qid}: alone got $alone want $want")
          if (want.nonEmpty && q.m > 1 && q.excluded.nonEmpty) msmExcl += 1
          if (want.nonEmpty && q.phrases.nonEmpty) phrased += 1
        }
      }
    }
    assert(msmExcl > 300, s"m > 1 + exclusion cases mostly empty ($msmExcl) — vacuous")
    assert(phrased > 300, s"phrase cases mostly empty ($phrased) — vacuous")
  }

  test("θ is a (score, docId) pair: shard groups in any order, ties decided by docId") {
    // A task reads its shard files in whatever order Spark packs them, so
    // its one heap per query meets docIds out of order. Tie-heavy corpora
    // (every doc the same length, tf 0-2 per word) make many docs score
    // exactly alike, so whether a doc enters is decided by the docId half
    // of θ. Every query goes through the scorer over the shard groups in
    // several shuffled orders, as one task and split over two tasks merged
    // on the driver, and must equal the brute-force search-box oracle rank
    // for rank: m = 1, m-of-n and AND, with and without an exclusion,
    // tombstones and an allow-list.
    val cfg = IndexBuilder.Config()
    val rnd = new scala.util.Random(20261020L)
    val words = Seq("w0", "w1", "w2", "w3")
    val dlen = 10
    var tieDecided = 0
    var checked = 0
    (1 to 120).foreach { iter =>
      val nDocs = 8 + rnd.nextInt(40)
      val docs = (0 until nDocs).map { d =>
        val toks = words.flatMap(w => Seq.fill(rnd.nextInt(3))(w)) ++
          (if (rnd.nextDouble() < 0.2) Seq("x0") else Nil)
        d.toLong -> rnd.shuffle(toks ++ Seq.fill(dlen - toks.size)("f0")).mkString(" ")
      }.toVector
      val c = OracleBM25.corpusFromDocs(docs, cfg.analyzer)
      assert(c.dl.values.forall(_ == dlen))
      // 2-5 docId-range shards of 1-3 postings a block
      val nShards = 2 + rnd.nextInt(4)
      val blockSize = 1 + rnd.nextInt(3)
      val shardOf: Long => Int = d => (d * nShards / nDocs).toInt
      val groups: Seq[Seq[PostingBlock]] = (0 until nShards).map { shard =>
        c.postings.toSeq.sortBy(_._1).flatMap { case (t, ps) =>
          ps.toSeq.filter(p => shardOf(p._1) == shard).sortBy(_._1)
            .map { case (d, tf) => P(d, tf, c.dl(d)) }
            .grouped(blockSize).zipWithIndex.map { case (bps, bi) => blk(shard, t, bi, bps) }
        }
      }.filter(_.nonEmpty)
      val dead = (0 until nDocs).filter(_ => rnd.nextDouble() < 0.1).map(_.toLong).toSet
      val allow =
        if (rnd.nextBoolean()) None
        else Some((0 until nDocs).filter(_ => rnd.nextDouble() < 0.8).map(_.toLong).toSet)
      val tombstones = DocIdSet.fromIds(dead.toArray)
      val allowSet = allow.map(a => DocIdSet.fromIds(a.toArray))
      val keep: Long => Boolean = id => !dead(id) && allow.forall(_(id))
      // search-box texts over 2-4 distinct words, some typed twice (qtf 2)
      val texts = (1 to 3).map { _ =>
        val ws = rnd.shuffle(words).take(2 + rnd.nextInt(3))
        (ws ++ ws.filter(_ => rnd.nextDouble() < 0.2)).mkString(" ")
      }
      for (text <- texts; excl <- Seq("", " -x0")) {
        val n = Analyzer.analyzeQuery(text, cfg.analyzer).size
        Seq(1, 2, n).distinct.foreach { m =>
          val q = text + excl
          val positive = Analyzer.analyzeQuery(text, cfg.analyzer)
            .filter { case (t, _) => c.postings.contains(t) }
          if (positive.size >= m) {
            val bq = BoolQuery(q, positive.map { case (t, qtf) =>
              QTerm(t, qtf * Bm25.idf(c.n, c.postings(t).size.toLong))
            }, if (excl.nonEmpty && c.postings.contains("x0")) Seq("x0") else Nil, m, Nil, allowSet)
            val full = OracleBM25.search(c, q, m, nDocs, cfg, keep)
            Seq(1, 2, 3, 5).foreach { k =>
              val want = full.take(k)
              if (full.size > k && full(k - 1)._2 == full(k)._2) tieDecided += 1
              (1 to 3).foreach { _ =>
                val order = rnd.shuffle(groups)
                val one = BoolScorer.scoreTask(order.flatten.iterator.buffered, Seq(bq), k,
                  k1, b, c.avgdl, tombstones).toSeq
                val got = one.headOption.fold(Seq.empty[(Long, Double)])(r => pairs(r._2))
                assert(got == want,
                  s"iter=$iter [$q] m=$m k=$k order=${order.map(_.head.shardId)}: got $got want $want")
                val cut = rnd.nextInt(order.size + 1)
                val lists = Seq(order.take(cut), order.drop(cut)).flatMap { part =>
                  BoolScorer.scoreTask(part.flatten.iterator.buffered, Seq(bq), k,
                    k1, b, c.avgdl, tombstones).map(_._2)
                }
                val merged = pairs(QueryEngine.mergeTopK(lists, k))
                assert(merged == want, s"iter=$iter [$q] m=$m k=$k split at $cut: " +
                  s"merged $merged want $want")
                checked += 1
              }
            }
          }
        }
      }
    }
    info(s"$checked checks, $tieDecided with the k-th score tied past the cut")
    assert(tieDecided > 500, s"only $tieDecided cases where the docId tie-break decides")
  }

  test("a lone phrase: scoreTask's counts and candidates, finished on the driver, equal the phrase oracle") {
    // The phrase scores as one term, its idf over the live matches every
    // task counted. Random positional corpora, phrases of 1-3 words
    // (repeats allowed) at slop 0-2, tombstones, and 1-4 docId-range
    // shards read in shuffled orders by 1-3 tasks; a quarter of the
    // corpora hold the phrase in every doc, so idf = 0 and docId order
    // decides. Each result must equal the brute-force PhraseQuery oracle
    // over the live docs, rank for rank and bit for bit.
    val cfg = IndexBuilder.Config()
    val rnd = new scala.util.Random(20261021L)
    val words = Seq("w0", "w1", "w2")
    var checked = 0
    var nonEmpty = 0
    var idfZero = 0
    (1 to 200).foreach { iter =>
      val nDocs = 3 + rnd.nextInt(30)
      val phrase = Seq.fill(1 + rnd.nextInt(3))(words(rnd.nextInt(words.size)))
      val slop = rnd.nextInt(3)
      val everywhere = rnd.nextDouble() < 0.25
      val texts: Map[Long, Array[String]] = (0 until nDocs).map { d =>
        val toks = Seq.fill(1 + rnd.nextInt(12))(
          if (rnd.nextDouble() < 0.75) words(rnd.nextInt(words.size)) else "f0")
        val at = rnd.nextInt(toks.size + 1)
        d.toLong -> (if (everywhere) toks.take(at) ++ phrase ++ toks.drop(at) else toks).toArray
      }.toMap
      val nShards = 1 + rnd.nextInt(4)
      val blockSize = 1 + rnd.nextInt(3)
      val groups: Seq[Seq[PostingBlock]] = (0 until nShards).map { shard =>
        (words :+ "f0").flatMap { t =>
          texts.toSeq.filter { case (d, _) => (d * nShards / nDocs).toInt == shard }.sortBy(_._1)
            .flatMap { case (d, toks) =>
              val pos = toks.indices.filter(toks(_) == t).map(_ + 1).toArray // 1-based
              if (pos.isEmpty) None else Some((P(d, pos.length, toks.length), pos))
            }
            .grouped(blockSize).zipWithIndex.map { case (bps, bi) =>
              blk(shard, t, bi, bps.map(_._1), bps.map(_._2))
            }
        }
      }.filter(_.nonEmpty)
      // doc 0 stays live, so the live corpus is never empty
      val dead = (1 until nDocs).filter(_ => rnd.nextDouble() < 0.2).map(_.toLong).toSet
      val tombstones = DocIdSet.fromIds(dead.toArray)
      val live = OracleBM25.corpusFromDocs(texts.toVector.sortBy(_._1)
        .collect { case (d, toks) if !dead(d) => d -> toks.mkString(" ") }, cfg.analyzer)
      val liveMatches = live.docs.count { case (d, _) =>
        OracleBM25.phraseTf(texts(d), phrase, slop) > 0 }
      val q = BoolQuery("p", phrase.distinct.sorted.map(QTerm(_, 0.0)), Nil,
        phrase.distinct.size, Seq((phrase, slop)), phraseAsTerm = true)
      Seq(1, 2, 3, 5).foreach { k =>
        val want = OracleBM25.phraseTopK(live, phrase.mkString(" "), slop, k, cfg)
        (1 to 3).foreach { _ =>
          val order = rnd.shuffle(groups)
          val cuts = Seq.fill(rnd.nextInt(3))(rnd.nextInt(order.size + 1)).sorted
          val tasks = (0 +: cuts :+ order.size).sliding(2).map(c => order.slice(c.head, c.last))
          val lists = tasks.flatMap { part =>
            BoolScorer.scoreTask(part.flatten.iterator.buffered, Seq(q), k,
              k1, b, live.avgdl, tombstones).map(_._2)
          }.toSeq
          val got = pairs(QueryEngine.mergePhrase(lists, live.n, k))
          assert(got == want, s"iter=$iter [${phrase.mkString(" ")}]~$slop k=$k " +
            s"${lists.size} tasks: got $got want $want")
          checked += 1
        }
        if (want.nonEmpty) nonEmpty += 1
        if (liveMatches == live.n && liveMatches > k) idfZero += 1
      }
    }
    info(s"$checked checks, $nonEmpty (corpus, k) with matches, $idfZero at idf = 0 past k")
    assert(nonEmpty > 400, s"phrase cases mostly empty ($nonEmpty) — vacuous")
    assert(idfZero > 100, s"only $idfZero idf = 0 cases with more matches than k")
  }

  test("a lone phrase's finish: a score tie rounded from f and nextDown(f) goes to the smaller docId") {
    val f = Bm25.partial(3, 7, k1, b, 5.0)
    val lower = Math.nextDown(f)
    // a doc count whose idf (df = 3) rounds both products to one score
    val n = (3 to 100000).find { n =>
      val idf = Bm25.idf(n.toLong, 3L)
      idf > 0 && idf * f == idf * lower
    }.getOrElse(fail("no idf ties f and nextDown(f)"))
    val idf = Bm25.idf(n.toLong, 3L)
    // doc 9 holds the larger f, doc 4 the smaller one, doc 1 (the smallest
    // docId) a far smaller f: the tie puts doc 4 first
    val tied = new QueryEngine.PhraseMatches
    tied.add(9L, f)
    tied.add(4L, lower)
    tied.add(1L, f / 2)
    assert(pairs(QueryEngine.mergePhrase(Seq(tied.candidates(1)), n.toLong, 1)) ==
      Seq(4L -> idf * lower))
    assert(pairs(QueryEngine.mergePhrase(Seq(tied.candidates(2)), n.toLong, 2)) ==
      Seq(4L -> idf * lower, 9L -> idf * f))
    // every doc matches (df = N): idf = 0, and docId order decides
    val all = new QueryEngine.PhraseMatches
    all.add(8L, 2 * f)
    all.add(5L, f)
    all.add(2L, f / 2)
    assert(pairs(QueryEngine.mergePhrase(Seq(all.candidates(1)), 3L, 1)) == Seq(2L -> 0.0))
  }
}
