package graft

import org.apache.spark.sql.functions._

/** Pins the unigram-LM tokenizer (llmops.UnigramTokenizer): the Viterbi
  * DP against an independent reference implementation on the real
  * fixture, the deterministic tie-break, the pruned-vocab reachability
  * guard, the coverage invariant, and the EM round's pruning/likelihood
  * behavior — the properties the q410/q411 DuckDB oracles rely on
  * matching bit-for-bit. */
class UnigramSpec extends EngineSuite {

  private val SubMax = 4

  /** The e6 quantization exactly as both engines compute it: HALF_UP
    * (away from zero — math.round would round -2.5 toward +inf). */
  private def lpE6(cnt: Long, tot: Double): Long =
    BigDecimal(math.log(cnt / tot) * 1e6)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  /** Independent reference on the fixture: word frequencies, seed
    * vocab, and [[kBest]] at k = 1 over that vocab — the Viterbi DP
    * re-implemented directly in Scala, (score, largest-start) tie-break
    * included. */
  private def referenceViterbi(): (Map[String, Long], Map[String, Long],
      String => (Long, List[String])) = {
    val words = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "").groupBy("w").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val cnt = scala.collection.mutable.Map.empty[String, Long]
    for ((w, f) <- words; j <- 0 until w.length;
         l <- 1 to math.min(SubMax, w.length - j)) {
      val s = w.substring(j, j + l)
      cnt(s) = cnt.getOrElse(s, 0L) + f
    }
    val kept = cnt.filter { case (s, c) => c >= 2L || s.length == 1 }.toMap
    val tot = kept.values.sum.toDouble
    val lp = kept.map { case (s, c) => s -> lpE6(c, tot) }
    (words, lp, w => kBest(lp, w, 1).head)
  }

  /** Independent k-best reference over an explicit lp map: per position
    * the ordered top-k (score, j, predRank, path) states, candidate order
    * (score DESC, j DESC, predRank ASC); k = 1 is the plain Viterbi DP.
    * Empty when the word has no full path. */
  private def kBest(lp: Map[String, Long], w: String,
                    k: Int): List[(Long, List[String])] = {
    val dp = Array.fill[List[(Long, Int, Int, List[String])]](w.length + 1)(Nil)
    dp(0) = List((0L, -1, 0, Nil))
    for (p <- 1 to w.length) {
      val cands = for {
        j <- math.max(0, p - SubMax) until p
        l0 <- lp.get(w.substring(j, p)).toList
        ((sc, _, _, path), r) <- dp(j).zipWithIndex
      } yield (sc + l0, j, r, path :+ w.substring(j, p))
      dp(p) = cands.sortBy(c => (-c._1, -c._2, c._3)).take(k).toList
    }
    dp(w.length).map { case (sc, _, _, path) => (sc, path) }
  }

  test("the Viterbi DP reproduces an independent reference on the full " +
    "fixture corpus (scores AND segmentations, every word)") {
    val sp = QuerySpec.prepared(spark, sfDir)
    val (words, _, vit) = referenceViterbi()
    val ed = llmops.UnigramTokenizer.edges(
      sp.table("documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("word")).agg(count(lit(1)).as("freq")))
    val got = llmops.UnigramTokenizer
      .viterbi(ed, llmops.UnigramTokenizer.seedVocab(ed))
      .collect()
      .map(r => r.getAs[String]("word") ->
        ((r.getAs[Long]("score"), r.getSeq[String](r.fieldIndex("toks")).toList)))
      .toMap
    assert(got.keySet == words.keySet, "every distinct word segments")
    for ((w, _) <- words) {
      val (sc, path) = vit(w)
      assert(got(w) == ((sc, path)),
        s"word '$w': DP gave ${got(w)}, reference gives ($sc, $path)")
    }
  }

  test("score ties break to the larger start position (the shorter " +
    "final token): [a, b] beats [ab] at equal total score") {
    val sp = spark.newSession()
    import sp.implicits._
    val ed = llmops.UnigramTokenizer.edges(
      Seq(("ab", 1L)).toDF("word", "freq"))
    val vocab = Seq(("a", -2L), ("b", -2L), ("ab", -4L)).toDF("sub", "lp")
    val r = llmops.UnigramTokenizer.viterbi(ed, vocab).collect()(0)
    assert(r.getAs[Long]("score") == -4L)
    assert(r.getSeq[String](r.fieldIndex("toks")) == Seq("a", "b"),
      "equal score must resolve to the largest backpointer (j = 1)")
  }

  test("unreachable interior positions (pruned vocab) hold NULL and the " +
    "DP still finds the global optimum through them") {
    val sp = spark.newSession()
    import sp.implicits._
    val ed = llmops.UnigramTokenizer.edges(
      Seq(("abc", 1L)).toDF("word", "freq"))
    // no 'a', no 'c': position 1 is unreachable; [ab, c] is impossible
    // even though ab scores better than abc — only [abc] covers
    val vocab = Seq(("ab", -1L), ("abc", -5L)).toDF("sub", "lp")
    val r = llmops.UnigramTokenizer.viterbi(ed, vocab).collect()(0)
    assert(r.getSeq[String](r.fieldIndex("toks")) == Seq("abc"))
    assert(r.getAs[Long]("score") == -5L)
  }

  test("words with no full lattice path take the <unk> arm in BOTH " +
    "formulations — covered-but-pathless AND fully uncovered") {
    val sp = spark.newSession()
    import sp.implicits._
    // 'abc' is partially covered (ab) but has no full path; 'zzz' has
    // no vocab edge at all and would otherwise vanish from the DP join
    val ed = llmops.UnigramTokenizer.edges(
      Seq(("abc", 2L), ("zzz", 1L)).toDF("word", "freq"))
    val vocab = Seq(("ab", -1L)).toDF("sub", "lp")
    val got = llmops.UnigramTokenizer.viterbi(ed, vocab).collect()
      .map(r => r.getAs[String]("word") ->
        ((Option(r.get(r.fieldIndex("score"))),
          r.getSeq[String](r.fieldIndex("toks")).toList))).toMap
    assert(got.keySet == Set("abc", "zzz"), "every word must come back")
    assert(got("abc") == ((None, List("<unk>"))))
    assert(got("zzz") == ((None, List("<unk>"))))
    // the literal-map route under the same vocabulary
    val viaExpr = Seq("abc", "zzz").toDF("word")
      .select(col("word"), llmops.UnigramTokenizer
        .unigramTokensExprWith(col("word"), Seq("ab" -> -1L)).as("toks"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    assert(viaExpr == Map("abc" -> List("<unk>"), "zzz" -> List("<unk>")))
  }

  test("every fixture word re-concatenates from its segmentation " +
    "(coverage: single characters always survive the seed cut)") {
    val sp = QuerySpec.prepared(spark, sfDir)
    val ed = llmops.UnigramTokenizer.edges(
      sp.table("documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("word")).agg(count(lit(1)).as("freq")))
    val bad = llmops.UnigramTokenizer
      .viterbi(ed, llmops.UnigramTokenizer.seedVocab(ed))
      .filter(concat_ws("", col("toks")) =!= col("word"))
    assert(bad.count() == 0L, "a segmentation must cover its word exactly")
  }

  test("the EM round prunes unused seeds and does not degrade the " +
    "corpus likelihood on the fixture") {
    val rows = llmops.UnigramTokenizer.q411UnigramEm
      .run(spark, sfDir).collect()
    assert(rows.length == 2)
    val r0 = rows(0); val r1 = rows(1)
    assert(r0.getAs[Long]("round") == 0L && r1.getAs[Long]("round") == 1L)
    assert(r1.getAs[Long]("vocab_size") < r0.getAs[Long]("vocab_size"),
      "hard-EM must drop seed subwords the Viterbi paths never use")
    assert(r1.getAs[Long]("ll_e6") > r0.getAs[Long]("ll_e6"),
      "re-estimated model must improve the corpus log-likelihood here")
    assert(r0.getAs[Long]("tokens_total") > 0L &&
      r1.getAs[Long]("tokens_total") > 0L)
  }

  test("fuzz: the lattice-join DP matches the reference on random words " +
    "under a random tie-heavy vocab") {
    // Deterministic seed; lp values drawn from a SMALL set of multiples
    // so equal-score paths across different start positions are common —
    // the one argmax surface the hand cases cover only once.
    val rnd = new scala.util.Random(1234567L)
    val alphabet = "abc"
    val words = Seq.fill(60)(
      (1 to (1 + rnd.nextInt(10))).map(_ => alphabet(rnd.nextInt(3))).mkString)
      .distinct
    val subs = (for {
      w <- words; j <- 0 until w.length
      l <- 1 to math.min(4, w.length - j)
    } yield w.substring(j, j + l)).distinct
    // every single char kept (coverage); multis kept with ~60% chance
    val vocab = subs.filter(s => s.length == 1 || rnd.nextDouble() < 0.6)
      .map(s => s -> -1000000L * (1 + rnd.nextInt(4)))
    val lp = vocab.toMap
    val sp = spark.newSession()
    import sp.implicits._
    val wf = words.map(w => (w, 1L)).toDF("word", "freq")
    val got = llmops.UnigramTokenizer
      .viterbi(llmops.UnigramTokenizer.edges(wf), vocab.toDF("sub", "lp"))
      .collect()
      .map(r => r.getAs[String]("word") ->
        r.getSeq[String](r.fieldIndex("toks")).toList).toMap
    assert(got.keySet == words.toSet)
    for (w <- words) {
      val path = kBest(lp, w, 1).headOption.fold(List("<unk>"))(_._2)
      assert(got(w) == path, s"word '$w': DP gave ${got(w)}, reference $path")
    }
  }

  test("pruning to the target vocab keeps at most TargetMulti multi-char " +
    "tokens and the coverage floor prevents any <unk>") {
    val rows = llmops.UnigramTokenizer.q414UnigramPruneTarget
      .run(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val multis = rows.map(_.getAs[String]("token")).filter(_.length > 1)
    assert(multis.length <= llmops.UnigramTokenizer.TargetMulti,
      s"more multi-char tokens than the target allows: ${multis.toSeq}")
    // coverage is guarded IN-PLAN: q414's final join is a LEFT join
    // with raise_error on a missing vocab row, so an <unk> (or any
    // token outside the pruned vocab) fails the run loudly instead of
    // being silently dropped by an inner join — this run completing IS
    // the coverage assertion
    assert(!rows.exists(_.getAs[String]("token") == "<unk>"),
      "single-char coverage (incl. the CharFloor arm) must make every " +
        "word segmentable under the pruned vocab")
    // the artifact carries the model: every row's lp is a negative e6
    // log-prob and usage counts are positive
    rows.foreach { r =>
      assert(r.getAs[Long]("lp_e6") < 0L && r.getAs[Long]("cnt") > 0L)
    }
  }

  test("the tokenizer comparison report agrees on the corpus it measures " +
    "(identical char totals across families) and both compress") {
    val rows = llmops.TokenizerCompare.q415TokenizerCompare
      .run(spark, sfDir).collect()
    assert(rows.map(_.getAs[String]("family")).toSeq == Seq("bpe", "unigram"))
    val before = rows.map(_.getAs[Long]("tokens_before")).distinct
    assert(before.length == 1,
      s"both families measure the SAME corpus — chars must agree: ${before.toSeq}")
    rows.foreach { r =>
      assert(r.getAs[Long]("compression_e6") < 1000000L &&
        r.getAs[Long]("tokens_after") > 0L && r.getAs[Long]("vocab_used") > 0L)
    }
  }

  test("the per-row expression encode equals the lattice-join Viterbi " +
    "under the static vocab on the full fixture corpus") {
    val sp = QuerySpec.prepared(spark, sfDir)
    import sp.implicits._
    val wf = sp.table("documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    val viaJoin = llmops.UnigramTokenizer
      .viterbi(llmops.UnigramTokenizer.edges(wf),
        llmops.UnigramTokenizer.StaticVocab.toDF("sub", "lp"))
      .collect()
      .map(r => r.getAs[String]("word") ->
        r.getSeq[String](r.fieldIndex("toks")).toList).toMap
    val viaExpr = wf
      .select(col("word"),
        llmops.UnigramTokenizer.unigramTokensExpr(col("word")).as("toks"))
      .collect()
      .map(r => r.getAs[String]("word") ->
        r.getSeq[String](r.fieldIndex("toks")).toList).toMap
    assert(viaJoin == viaExpr,
      "the two Viterbi formulations disagree on some word")
  }

  test("the trained-model encode compresses every source split " +
    "(tokens strictly under characters — multi-char subwords fire)") {
    val rows = llmops.UnigramTokenizer.q412UnigramTrainedEncode
      .run(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("tokens_after") < r.getAs[Long]("tokens_before"),
        s"source ${r.getAs[String]("source")} gained nothing from training")
      assert(r.getAs[Long]("compression_e6") < 1000000L)
    }
  }

  test("q417: the streaming tokenizer stage under the q414 ARTIFACT " +
    "matches batch Viterbi under vc2 on every fixture document") {
    val sp = QuerySpec.prepared(spark, sfDir)
    val (ed, vc2) = llmops.UnigramTokenizer.prunedModelParts(sp)
    val artifact = vc2.select(col("sub"), col("lp")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.sortBy(_._1)
    // batch Viterbi (lattice-join formulation) under the same model
    val perWord = llmops.UnigramTokenizer.viterbi(ed, vc2).collect()
      .map(r => r.getAs[String]("word") ->
        r.getSeq[String](r.fieldIndex("toks")).toList).toMap
    assert(!perWord.valuesIterator.exists(_ == List("<unk>")),
      "the char floor must make the pruned model covering")
    val docs = sp.table("documents").select(col("doc_id"), col("text"))
    val staged = streaming.EventStreams.unigramTokenizedDocs(docs, artifact)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getSeq[String](r.fieldIndex("tokens")).toList).toMap
    val texts = docs.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    for ((id, text) <- texts) {
      val want = text.split(" ").filter(_.nonEmpty).toList.flatMap(perWord)
      assert(staged(id) == want,
        s"doc $id: stage gave ${staged(id).take(12)}…, batch $want")
    }
    llmops.Checkpoints.unpersist(ed)
    llmops.Checkpoints.unpersist(vc2)
  }

  test("q421: two EM rounds — the LL never decreases across EITHER step " +
    "and the vocabulary never grows") {
    val rows = llmops.UnigramTokenizer.q421UnigramEm2
      .run(spark, sfDir).collect()
    assert(rows.map(_.getAs[Long]("round")).toSeq == Seq(0L, 1L, 2L))
    val ll = rows.map(_.getAs[Long]("ll_e6"))
    assert(ll(1) >= ll(0) && ll(2) >= ll(1),
      s"hard-EM log-likelihood decreased: ${ll.toSeq}")
    val vs = rows.map(_.getAs[Long]("vocab_size"))
    assert(vs(1) <= vs(0) && vs(2) <= vs(1),
      s"usage-pruned vocabulary grew: ${vs.toSeq}")
  }

  test("q420 fuzz: the 2-best DP matches an independent k-best reference " +
    "on random words under a tie-heavy vocab, and rank 1 IS the Viterbi " +
    "path") {
    val rnd = new scala.util.Random(7654321L)
    val alphabet = "abc"
    val words = Seq.fill(60)(
      (1 to (1 + rnd.nextInt(10))).map(_ => alphabet(rnd.nextInt(3))).mkString)
      .distinct
    val subs = (for {
      w <- words; j <- 0 until w.length
      l <- 1 to math.min(4, w.length - j)
    } yield w.substring(j, j + l)).distinct
    val vocab = subs.filter(s => s.length == 1 || rnd.nextDouble() < 0.6)
      .map(s => s -> -1000000L * (1 + rnd.nextInt(4)))
    val lp = vocab.toMap
    val sp = spark.newSession()
    import sp.implicits._
    val wf = words.map(w => (w, 1L)).toDF("word", "freq")
    val got = llmops.UnigramTokenizer
      .viterbi2Best(llmops.UnigramTokenizer.edges(wf), vocab.toDF("sub", "lp"))
      .collect()
      .map { r =>
        val arr = r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("best2"))
        r.getAs[String]("word") -> arr.map(e =>
          (e.getAs[Long]("score"),
            e.getAs[String]("path").trim.split(" ").toList)).toList
      }.toMap
    // viterbi rank-1 agreement on the same vocab
    val vit = llmops.UnigramTokenizer
      .viterbi(llmops.UnigramTokenizer.edges(wf), vocab.toDF("sub", "lp"))
      .collect()
      .map(r => r.getAs[String]("word") ->
        r.getSeq[String](r.fieldIndex("toks")).toList).toMap
    // the literal-map route (the per-row encode) on the same vocab
    val viaExpr = wf
      .select(col("word"), llmops.UnigramTokenizer
        .unigramTokensExprWith(col("word"), vocab).as("toks"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    for (w <- words) {
      val want = kBest(lp, w, 2)
      assert(got(w) == want, s"word '$w': DP gave ${got(w)}, reference $want")
      assert(got(w).head._2 == vit(w),
        s"word '$w': 2-best rank 1 ${got(w).head._2} != viterbi ${vit(w)}")
      assert(viaExpr(w) == vit(w),
        s"word '$w': expression encode ${viaExpr(w)} != viterbi ${vit(w)}")
    }
  }

  test("the removal DP (viterbiScoreWithout) matches the reference DP " +
    "with the token removed, NULL exactly when no full path remains") {
    // q420-fuzz words and tie-heavy prices, but 'c' has no single-char
    // entry: a word's c's then ride multi-char tokens only, so removing
    // one can leave no full path (the NULL arm)
    val rnd = new scala.util.Random(24681357L)
    val words = Seq.fill(60)(
      (1 to (1 + rnd.nextInt(10))).map(_ => "abc"(rnd.nextInt(3))).mkString)
      .distinct
    val subs = (for {
      w <- words; j <- 0 until w.length
      l <- 1 to math.min(4, w.length - j)
    } yield w.substring(j, j + l)).distinct
    val vocab = subs
      .filter(s => if (s.length == 1) s != "c" else rnd.nextDouble() < 0.6)
      .map(s => s -> -1000000L * (1 + rnd.nextInt(4)))
    val lp = vocab.toMap
    // every (word, multi-char token on its best path)
    val cand = for {
      w <- words
      (_, path) <- kBest(lp, w, 1)
      ex <- path.distinct if ex.length > 1
    } yield (w, ex)
    val want = cand.map { case (w, ex) =>
      (w, ex) -> kBest(lp - ex, w, 1).headOption.map(_._1)
    }.toMap
    assert(want.values.exists(_.isEmpty) && want.values.exists(_.nonEmpty),
      "the fixture must exercise both the NULL and the scored arm")
    val sp = spark.newSession()
    import sp.implicits._
    val ed = llmops.UnigramTokenizer.edges(words.map(w => (w, 1L)).toDF("word", "freq"))
    // read as q423 reads it: left-joined from the candidate pairs (a
    // word whose every edge is `ex` has no DP row at all)
    val cdf = cand.toDF("word", "ex")
    val got = cdf
      .join(llmops.UnigramTokenizer.viterbiScoreWithout(
        llmops.UnigramTokenizer.latticeOf(ed, vocab.toDF("sub", "lp")), cdf),
        Seq("word", "ex"), "left")
      .select(col("word"), col("ex"), col("score_wo"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        Option(r.get(2)).map(_.asInstanceOf[Long]))
      .toMap
    assert(got == want)
  }

  test("q420 on the fixture: 10 words, ranks dense from 1, rank-2 never " +
    "beats rank-1, segs re-concatenate") {
    val rows = llmops.UnigramTokenizer.q420Unigram2Best
      .run(spark, sfDir).collect()
    val byWord = rows.groupBy(_.getAs[String]("word"))
    assert(byWord.size == 10, s"expected 10 report words, got ${byWord.size}")
    byWord.foreach { case (w, rs) =>
      val ranked = rs.sortBy(_.getAs[Int]("rnk"))
      assert(ranked.map(_.getAs[Int]("rnk")).toSeq ==
        (1 to ranked.length), s"$w: ranks not dense")
      if (ranked.length == 2)
        assert(ranked(0).getAs[Long]("score_e6") >=
          ranked(1).getAs[Long]("score_e6"), s"$w: rank order broken")
      ranked.foreach { r =>
        assert(r.getAs[String]("seg").replace(" ", "") == w,
          s"$w: seg does not re-concatenate")
      }
    }
  }

  test("ADVICE r18: viterbi2Best under a NON-covering vocab emits the " +
    "viterbi <unk> contract — no word silently vanishes") {
    val sp = spark.newSession()
    import sp.implicits._
    // 'abc' is partially covered (ab) but has no full path; 'zzz' has
    // no vocab edge at all (dropped by the lattice join); 'ab' is fully
    // covered with exactly one path — the mixed fixture of the viterbi
    // UNK pin, replayed against the 2-best formulation
    val ed = llmops.UnigramTokenizer.edges(
      Seq(("abc", 2L), ("zzz", 1L), ("ab", 3L)).toDF("word", "freq"))
    val vocab = Seq(("ab", -1L)).toDF("sub", "lp")
    val got = llmops.UnigramTokenizer.viterbi2Best(ed, vocab).collect()
      .map { r =>
        val arr = r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("best2"))
        r.getAs[String]("word") -> arr.map(e =>
          (Option(e.get(e.fieldIndex("score"))),
            e.getAs[String]("path").trim)).toList
      }.toMap
    assert(got.keySet == Set("abc", "zzz", "ab"), "every word must come back")
    assert(got("abc") == List((None, "<unk>")))
    assert(got("zzz") == List((None, "<unk>")))
    assert(got("ab") == List((Some(-1L), "ab")))
  }

  test("ADVICE r17: every learned log-prob is bounded away from the " +
    ".5 rounding boundary (a 1-ulp cross-engine LN drift cannot flip " +
    "any quantized lp on the fixtures)") {
    // The q410-q415/q417 oracles re-derive ROUND(LN(cnt/tot)*1e6)
    // independently on the JVM and in DuckDB; because those quantized
    // values feed the Viterbi ARGMAX, a flip at an exact .5e-6 boundary
    // could diverge whole segmentation paths, not just a report column.
    // Pin: on the fixture every entry of every learned vocab (seed vc0,
    // EM vc1, pruned vc2) sits > 1e-6 from the nearest .5 boundary —
    // ~500x the worst double-ulp drift at these magnitudes, so both
    // engines provably round identically.
    val sp = QuerySpec.prepared(spark, sfDir)
    val ed = llmops.UnigramTokenizer.edges(
      sp.table("documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("word")).agg(count(lit(1)).as("freq")))
    val vc0 = llmops.UnigramTokenizer.seedVocab(ed)
    val seg0 = llmops.UnigramTokenizer.viterbi(ed, vc0)
    val uc1 = seg0.select(explode(col("toks")).as("sub"), col("freq"))
      .groupBy(col("sub")).agg(sum(col("freq")).as("cnt"))
    val (ed2, vc2) = llmops.UnigramTokenizer.prunedModelParts(sp)
    def check(label: String, counts: Seq[Long]): Unit = {
      val tot = counts.sum.toDouble
      counts.foreach { c =>
        val x = math.log(c / tot) * 1e6
        val frac = x - math.floor(x)
        val dist = math.abs(frac - 0.5)
        assert(dist > 1e-6,
          f"$label: lp $x%.9f for cnt=$c sits $dist%.2e from the .5 " +
            "boundary — cross-engine rounding is no longer provably stable")
      }
    }
    check("vc0", vc0.select(col("cnt")).collect().map(_.getLong(0)).toSeq)
    check("vc1", uc1.select(col("cnt")).collect().map(_.getLong(0)).toSeq)
    check("vc2", vc2.select(col("cnt")).collect().map(_.getLong(0)).toSeq)
    llmops.Checkpoints.unpersist(ed2)
    llmops.Checkpoints.unpersist(vc2)
  }

  test("q423: LL-loss rank is NOT usage rank — a constructed model " +
    "where the heaviest-used token is the cheapest to remove, and an " +
    "essential token outranks every finite loss") {
    val sp = spark.newSession()
    import sp.implicits._
    // Three words, one multi-char token each:
    //  'xy' (freq 100): token "xy" lp -2e6; alternative x+y costs only
    //    1 e6-unit more per occurrence -> loss 100 (HIGH usage, LOW loss)
    //  'ab' (freq 1): token "ab" lp -1e6; alternative a+b costs 15e6
    //    more -> loss 15e6 (LOW usage, HIGH loss)
    //  'cd' (freq 1): token "cd" has NO single-char fallback in the
    //    model -> essential (removal leaves cd unsegmentable)
    val ed = llmops.UnigramTokenizer.edges(
      Seq(("xy", 100L), ("ab", 1L), ("cd", 1L)).toDF("word", "freq"))
    val vocab = Seq(
      ("xy", 100L, -2000000L), ("x", 50L, -1000000L), ("y", 50L, -1000001L),
      ("ab", 1L, -1000000L), ("a", 1L, -8000000L), ("b", 1L, -8000000L),
      ("cd", 1L, -1000000L)).toDF("sub", "cnt", "lp")
    val lat = llmops.UnigramTokenizer.latticeOf(ed, vocab)
    val segb = llmops.UnigramTokenizer.viterbi(ed, vocab)
    val got = llmops.UnigramTokenizer
      .llLossRanked(vocab.select(col("sub"), col("cnt")), lat, segb)
      .collect()
      .map(r => r.getAs[String]("ex") ->
        ((r.getAs[Int]("rnk"), r.getAs[Int]("ess"),
          Option(r.get(r.fieldIndex("ll_loss"))))))
      .toMap
    // loss rank: cd (essential) > ab (15e6) > xy (100)
    assert(got("cd") == ((1, 1, None)), s"cd: ${got("cd")}")
    assert(got("ab") == ((2, 0, Some(15000000L))), s"ab: ${got("ab")}")
    assert(got("xy") == ((3, 0, Some(100L))), s"xy: ${got("xy")}")
    // usage rank would be xy (100) > ab = cd (1): the two criteria
    // order the SAME tokens differently — LL-loss is not renamed usage
    val usageOrder = Seq("xy", "ab", "cd") // cnt DESC, sub ASC
    val lossOrder = Seq("cd", "ab", "xy")
    assert(usageOrder != lossOrder)
  }

  test("q434: the sweep grid is complete, the corpus grain is " +
    "budget-invariant, and each budget's kept set equals the " +
    "single-budget prune's") {
    val sp = QuerySpec.prepared(spark, sfDir)
    val rows = SparkEntry.queries("q434_unigram_vocab_sweep")(spark, sfDir)
      .collect()
    val multis = rows.map(_.getAs[Int]("vocab_multi")).distinct.sorted.toSeq
    assert(multis == llmops.UnigramTokenizer.SweepMultis.sorted,
      s"swept budgets drifted: $multis")
    // every budget reports every language, and n_words per language is
    // IDENTICAL across budgets — the report reads ONE corpus rollup,
    // not one rescan per size
    rows.groupBy(_.getAs[String]("lang")).foreach { case (lang, rs) =>
      assert(rs.length == multis.length, s"$lang: missing budget rows")
      assert(rs.map(_.getAs[Long]("n_words")).distinct.length == 1,
        s"$lang: n_words varies by budget — the corpus grain leaked")
    }
    // prefix-consistency: the sweep cuts prefixes of ONE ranking; an
    // independent single-budget prune run must keep the same tokens
    // (also pins that the rank order is deterministic across builds)
    val ed = llmops.UnigramTokenizer.edges(
      sp.table("documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("word")).agg(count(lit(1)).as("freq")))
    val uc1 = llmops.UnigramTokenizer
      .viterbi(ed, llmops.UnigramTokenizer.seedVocab(ed))
      .select(explode(col("toks")).as("sub"), col("freq"))
      .groupBy(col("sub")).agg(sum(col("freq")).as("cnt"))
    val lat = llmops.UnigramTokenizer.latticeOf(ed,
      llmops.UnigramTokenizer.withLogProbs(uc1))
    val ranked = llmops.UnigramTokenizer
      .llLossRanked(uc1, lat, llmops.UnigramTokenizer.viterbi(ed,
        llmops.UnigramTokenizer.withLogProbs(uc1)))
    val k = llmops.UnigramTokenizer.TargetMulti2
    val sweepKept = ranked.filter(col("rnk") <= k)
      .select(col("ex")).collect().map(_.getString(0)).toSet
    val (single, _) = llmops.UnigramTokenizer.llLossPruneRound(ed, uc1, k)
    val singleKept = single.select(col("ex")).collect()
      .map(_.getString(0)).toSet
    assert(sweepKept == singleKept,
      s"budget-$k kept set diverged: sweep $sweepKept vs single $singleKept")
  }

  test("q430: the iterated prune shrinks monotonically — round-2 kept " +
    "multi tokens are a strict subset of round-1's, and round 2 ranks " +
    "under the RE-ESTIMATED model's support") {
    val sp = QuerySpec.prepared(spark, sfDir)
    val ed = llmops.UnigramTokenizer.edges(
      sp.table("documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("word")).agg(count(lit(1)).as("freq")))
    val seg0 = llmops.UnigramTokenizer.viterbi(ed,
      llmops.UnigramTokenizer.seedVocab(ed))
    val uc1 = seg0.select(explode(col("toks")).as("sub"), col("freq"))
      .groupBy(col("sub")).agg(sum(col("freq")).as("cnt"))
    val (keep1, ucNext) = llmops.UnigramTokenizer
      .llLossPruneRound(ed, uc1, llmops.UnigramTokenizer.TargetMulti)
    val uc2 = ucNext
    val (keep2, _) = llmops.UnigramTokenizer
      .llLossPruneRound(ed, uc2, llmops.UnigramTokenizer.TargetMulti2)
    val k1 = keep1.select(col("ex")).collect().map(_.getString(0)).toSet
    val k2 = keep2.select(col("ex")).collect().map(_.getString(0)).toSet
    assert(k2.subsetOf(k1),
      s"round-2 keep $k2 escaped round-1's kept set $k1")
    assert(k2.size < k1.size, "the schedule must actually shrink")
    // the round-2 ranking DOMAIN is the re-estimated model's multi
    // support — which is exactly (a subset of) what round 1 kept
    val m2 = uc2.filter(length(col("sub")) > 1)
      .select(col("sub")).collect().map(_.getString(0)).toSet
    assert(m2.subsetOf(k1),
      s"re-EM'd multi support $m2 escaped round-1's kept set $k1")
  }

  test("q425: the sampler is a deterministic exact replay — every " +
    "(doc, word) decision reproduces from the frozen hash + quantized " +
    "softmax, both branches occur, and alpha -> infinity degenerates " +
    "to the argmax on strict-gap words") {
    val rows = llmops.UnigramTokenizer
      .sampledSegments(QuerySpec.prepared(spark, sfDir),
        llmops.UnigramTokenizer.SampleAlpha)
      .select(col("doc_id"), col("word"), col("u_e6"), col("p1_e6"),
        col("s1"), col("s2"), col("p1"), col("p2"), col("path"))
      .collect()
    assert(rows.nonEmpty)
    var rank2 = 0
    rows.foreach { r =>
      val w = r.getAs[String]("word")
      val doc = r.getAs[Long]("doc_id")
      // frozen-hash replay (the SampleHashSql formula, in Scala): the
      // rolling code-point polynomial over the WHOLE word (ADVICE r19:
      // the old (length, first, last) salt correlated same-shape words)
      val poly = w.foldLeft(0L)((acc, c) => (acc * 31L + c.toLong) % 1000003L)
      val expU = ((doc % 1000003L) * 2654435761L + poly * 131L) % 1000000L
      assert(r.getAs[Long]("u_e6") == expU, s"($doc,$w): hash drifted")
      val s2 = Option(r.get(r.fieldIndex("s2"))).map(_.asInstanceOf[Long])
      val expP1 = s2 match {
        case None => 1000000L
        case Some(v) =>
          val s1 = r.getAs[Long]("s1")
          BigDecimal(1e6 / (1 + math.exp(
            llmops.UnigramTokenizer.SampleAlpha * (v - s1).toDouble / 1e6)))
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      }
      assert(r.getAs[Long]("p1_e6") == expP1, s"($doc,$w): p1 drifted")
      val expPath = if (s2.isEmpty || expU < expP1)
        r.getAs[String]("p1") else r.getAs[String]("p2")
      assert(r.getAs[String]("path") == expPath, s"($doc,$w): pick drifted")
      if (s2.nonEmpty && r.getAs[String]("path") == r.getAs[String]("p2"))
        rank2 += 1
    }
    assert(rank2 > 0, "no rank-2 pick on the whole fixture — the " +
      "sampler is degenerate and regularizes nothing")
    // alpha -> infinity: every strict-gap word picks the argmax path
    val degen = llmops.UnigramTokenizer
      .sampledSegments(QuerySpec.prepared(spark, sfDir), 1e9)
      .filter(col("s2").isNotNull && col("s2") < col("s1"))
      .filter(col("path") =!= col("p1"))
    assert(degen.count() == 0L,
      "alpha=1e9 must reduce to argmax wherever the gap is strict")
  }

  test("q425/q429 boundary pin: on the fixture every sampling comparison " +
    "is bounded away from both float hazards (u never adjacent to p1; " +
    "p1 pre-round value never near a .5 boundary) — under the seed AND " +
    "the shipped artifact model") {
    // The one float surface of the sampler is EXP/ROUND in p1_e6; a
    // 1-ulp cross-engine drift could flip the rounded value only at a
    // .5 boundary, and a flipped p1_e6 only flips a PICK when u_e6
    // sits exactly at the old/new value. Pin both distances, for both
    // gated models (q425 seed, q429 pruned artifact — different gap
    // surfaces).
    val sp = QuerySpec.prepared(spark, sfDir)
    def check(label: String,
              segs: org.apache.spark.sql.DataFrame): Unit = {
      val rows = segs
        .filter(col("s2").isNotNull)
        .select(col("u_e6"), col("p1_e6"), col("s1"), col("s2"))
        .collect()
      assert(rows.nonEmpty, s"$label: no two-path words on the fixture")
      rows.foreach { r =>
        val gap = math.abs(r.getAs[Long]("u_e6") - r.getAs[Long]("p1_e6"))
        assert(gap >= 2,
          s"$label: u_e6 within 1 of p1_e6 (${r.mkString(",")}) — a " +
            "1-ulp p1 drift could flip this pick")
        val x = 1e6 / (1 + math.exp(llmops.UnigramTokenizer.SampleAlpha *
          (r.getAs[Long]("s2") - r.getAs[Long]("s1")).toDouble / 1e6))
        val frac = x - math.floor(x)
        assert(math.abs(frac - 0.5) > 1e-6,
          f"$label: p1 pre-round $x%.9f sits at a .5 boundary — " +
            "rounding is no longer provably cross-engine stable")
      }
    }
    check("seed (q425)", llmops.UnigramTokenizer
      .sampledSegments(sp, llmops.UnigramTokenizer.SampleAlpha))
    val (ed, vc2) = llmops.UnigramTokenizer.prunedModelParts(sp)
    check("artifact (q429)", llmops.UnigramTokenizer
      .sampledSegmentsUnder(sp, ed, vc2,
        llmops.UnigramTokenizer.SampleAlpha))
    llmops.Checkpoints.unpersist(ed)
    llmops.Checkpoints.unpersist(vc2)
  }
}
