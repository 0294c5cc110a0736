package graft

import org.apache.spark.sql.functions._
import org.scalatest.time.SpanSugar._

/** Pins the distributed BPE trainer (llmops.BpeTokenizer): greedy
  * left-to-right overlap parity, the deterministic tie-break, the
  * empty-winner stop, and the invariant that the symbol table always
  * re-concatenates to the original words — the properties the q401
  * DuckDB oracle relies on matching bit-for-bit. */
class BpeSpec extends EngineSuite with BoundedTests {
  def testLimit = 3.minutes


  /** A session whose `documents` view is the given (doc_id, text)
    * rows — isolated temp-view registry, shared SparkContext. */
  private def docs(texts: String*) = {
    val sp = spark.newSession()
    import sp.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text").createOrReplaceTempView("documents")
    sp
  }

  private def symsOf(finalSyms: org.apache.spark.sql.DataFrame,
                     word: String): Seq[String] =
    finalSyms.filter(col("word") === word).orderBy(col("pos"))
      .select(col("sym")).collect().map(_.getString(0)).toSeq

  test("greedy left-to-right merge is non-overlapping: aaaa -> [aa, aa]") {
    val sp = docs("aaaa aaa ab")
    val (merges, finalSyms) = llmops.BpeTokenizer.trainMerges(sp, rounds = 1)
    val m = merges.collect()
    assert(m.length == 1)
    // (a,a) count: aaaa has 3 adjacent occurrences, aaa has 2 -> 5 > (a,b)'s 1
    assert(m(0).getAs[String]("l") == "a" && m(0).getAs[String]("r") == "a")
    assert(m(0).getAs[Long]("pair_freq") == 5L)
    assert(symsOf(finalSyms, "aaaa") == Seq("aa", "aa"),
      "overlapping candidates must merge at odd run positions only")
    assert(symsOf(finalSyms, "aaa") == Seq("aa", "a"))
    assert(symsOf(finalSyms, "ab") == Seq("a", "b"))
  }

  test("winner tie-break is count DESC then (l, r) lexicographic") {
    // (a,b) and (b,c) both occur exactly twice; (a,b) must win
    val sp = docs("ab ab bc bc")
    val (merges, _) = llmops.BpeTokenizer.trainMerges(sp, rounds = 1)
    val m = merges.collect()
    assert(m.length == 1)
    assert(m(0).getAs[String]("l") == "a" && m(0).getAs[String]("r") == "b")
    assert(m(0).getAs[Long]("pair_freq") == 2L)
  }

  test("training stops when no adjacent pair remains (empty-winner guard)") {
    val sp = docs("a b c a b")
    val (merges, finalSyms) = llmops.BpeTokenizer.trainMerges(sp, rounds = 6)
    assert(merges.count() == 0L, "single-char words admit no merge")
    assert(finalSyms.count() == 3L, "seed symbol table survives untouched")
  }

  test("empty tokens from doubled separators are guarded (Spark's " +
    "sequence(1, 0) would throw where DuckDB's range is just empty)") {
    val sp = docs("a  b") // splits to [a, '', b]
    val (merges, finalSyms) = llmops.BpeTokenizer.trainMerges(sp, rounds = 2)
    assert(merges.count() == 0L)
    assert(finalSyms.count() == 2L, "the empty token carries no symbols")
  }

  test("final symbol table re-concatenates to the original words (fixture)") {
    val sp = QuerySpec.prepared(spark, sfDir)
    val (merges, finalSyms) = llmops.BpeTokenizer.trainMerges(sp)
    assert(merges.count() == 6L, "fixture vocabulary supports all 6 merges")
    val rebuilt = finalSyms
      .groupBy(col("word"))
      .agg(array_join(transform(array_sort(
        collect_list(struct(col("pos"), col("sym")))), s => s.getField("sym")),
        "").as("re"))
      .filter(col("re") =!= col("word"))
    assert(rebuilt.count() == 0L,
      "every word must re-concatenate from its merged symbols")
  }

  test("newline-bearing words encode identically in the state loop and " +
    "the stateless expression (position-based seeds, not regexp '.')") {
    val sp = spark.newSession()
    import sp.implicits._
    val vocab = Seq(("er\ner", 1L), ("ta\nble", 1L), ("table", 2L))
      .toDF("word", "n")
    val viaState = llmops.TextAnalysis.bpeEncodeState(sp, vocab)
      .select(col("word"), expr("split(trim(seq), '  ')").as("toks"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    val viaExpr = vocab
      .select(col("word"),
        llmops.TextAnalysis.bpeTokensExpr(col("word")).as("toks"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    assert(viaState == viaExpr,
      s"state loop and expression diverge on newline words: $viaState vs $viaExpr")
    // the newline is a symbol of its own — a regexp '.' seed would have
    // silently dropped it (differently in Spark and DuckDB, breaking
    // the three-way formulation parity the oracles pin)
    assert(viaState("er\ner") == List("er", "\n", "er"))
    assert(viaState("table") == List("table"))
  }

  test("q406 replay: encoding the training corpus with the LEARNED table " +
    "reproduces the trainer's own final symbol table") {
    val sp = QuerySpec.prepared(spark, sfDir)
    val (mergeTable, finalSyms) = llmops.BpeTokenizer.trainMerges(sp)
    val learned = mergeTable.select(
      concat_ws(" ", col("l"), col("r")).as("pair"), col("round").as("rank"))
    val vocab = finalSyms.groupBy("word").agg(max(col("freq")).as("n"))
    val enc = llmops.TextAnalysis.bpeEncodeStateWith(
      sp, vocab, learned, llmops.BpeTokenizer.Merges)
    val encToks = enc.select(col("word"),
      expr("split(trim(seq), '  ')").as("toks"))
    val trainToks = finalSyms.groupBy("word")
      .agg(array_sort(collect_list(struct(col("pos"), col("sym")))).as("ps"))
      .select(col("word"), expr("transform(ps, s -> s.sym)").as("toks"))
    assert(encToks.exceptAll(trainToks).isEmpty &&
      trainToks.exceptAll(encToks).isEmpty,
      "greedy lowest-rank-first encode must replay the training segmentation")
  }

  test("q407 batch is non-interacting: (b,c) is blocked by the " +
    "higher-ranked (a,b) sharing 'b'") {
    val sp = docs("ab ab bc bc")
    val (merges, _) = llmops.BpeTokenizer.trainMergesBatched(
      sp, rounds = 1, m = 2, pool = 16)
    val m = merges.collect()
    assert(m.length == 1,
      s"(b,c) shares 'b' with (a,b) and must not join the batch: ${m.toSeq}")
    assert(m(0).getAs[String]("l") == "a" && m(0).getAs[String]("r") == "b")
  }

  test("q407 batched rewrite keeps the greedy overlap parity: aaaa -> [aa, aa]") {
    val sp = docs("aaaa aaa ab")
    val (merges, finalSyms) = llmops.BpeTokenizer.trainMergesBatched(
      sp, rounds = 1, m = 2, pool = 16)
    // (a,b) shares 'a' with the winner (a,a): batch of 1
    assert(merges.count() == 1L)
    assert(symsOf(finalSyms, "aaaa") == Seq("aa", "aa"))
    assert(symsOf(finalSyms, "aaa") == Seq("aa", "a"))
  }

  test("q407 packs a full batch of disjoint winners into ONE round") {
    val sp = docs("ab cd ef", "ab cd ef")
    val (merges, _) = llmops.BpeTokenizer.trainMergesBatched(
      sp, rounds = 1, m = 3, pool = 16)
    val m = merges.collect()
    assert(m.length == 3, s"three disjoint pairs must all merge: ${m.toSeq}")
    assert(m.map(_.getAs[Long]("round")).toSet == Set(1L))
    assert(m.map(r => (r.getAs[String]("l"), r.getAs[String]("r"))).toSet ==
      Set(("a", "b"), ("c", "d"), ("e", "f")))
  }

  test("encoding with the BATCHED-learned table reproduces the batched " +
    "trainer's final symbol table (the q407 -> encoder composition)") {
    // rank = the flattened (round, brk) order; within a batch the rules
    // are symbol-disjoint, so the encoder's one-rule-per-round replay
    // commutes with the trainer's simultaneous application
    val sp = QuerySpec.prepared(spark, sfDir)
    val (bm, bSyms) = llmops.BpeTokenizer.trainMergesBatched(sp)
    val learned = bm.select(
      concat_ws(" ", col("l"), col("r")).as("pair"),
      ((col("round") - 1L) * llmops.BpeTokenizer.BatchM + col("brk"))
        .as("rank"))
    val vocab = bSyms.groupBy("word").agg(max(col("freq")).as("n"))
    val enc = llmops.TextAnalysis.bpeEncodeStateWith(sp, vocab, learned,
      llmops.BpeTokenizer.BatchRounds * llmops.BpeTokenizer.BatchM)
    val encToks = enc.select(col("word"),
      expr("split(trim(seq), '  ')").as("toks"))
    val trainToks = bSyms.groupBy("word")
      .agg(array_sort(collect_list(struct(col("pos"), col("sym")))).as("ps"))
      .select(col("word"), expr("transform(ps, s -> s.sym)").as("toks"))
    assert(encToks.exceptAll(trainToks).isEmpty &&
      trainToks.exceptAll(encToks).isEmpty,
      "the batched merge table must replay through the greedy encoder")
  }

  test("q407 on the fixture: first batch member = q401's first merge; " +
    "every batch non-interacting; words re-concatenate") {
    val sp = QuerySpec.prepared(spark, sfDir)
    val (bm, bSyms) = llmops.BpeTokenizer.trainMergesBatched(sp)
    val batched = bm.orderBy(col("round"), col("brk")).collect()
    assert(batched.nonEmpty && batched.length <=
      llmops.BpeTokenizer.BatchRounds * llmops.BpeTokenizer.BatchM)
    val (tm, _) = llmops.BpeTokenizer.trainMerges(sp, rounds = 1)
    val first = tm.collect()(0)
    assert(batched(0).getAs[String]("l") == first.getAs[String]("l") &&
      batched(0).getAs[String]("r") == first.getAs[String]("r"),
      "rank 1 is never blocked: batch round 1 must open with the textbook merge")
    batched.groupBy(_.getAs[Long]("round")).values.foreach { rows =>
      val pairs = rows.map(r => (r.getAs[String]("l"), r.getAs[String]("r")))
      for (i <- pairs.indices; j <- 0 until i) {
        val a = Set(pairs(i)._1, pairs(i)._2)
        val b = Set(pairs(j)._1, pairs(j)._2)
        assert(a.intersect(b).isEmpty,
          s"interacting batch members: ${pairs(j)} vs ${pairs(i)}")
      }
    }
    val rebuilt = bSyms.groupBy(col("word"))
      .agg(array_join(transform(array_sort(
        collect_list(struct(col("pos"), col("sym")))), s => s.getField("sym")),
        "").as("re"))
      .filter(col("re") =!= col("word"))
    assert(rebuilt.count() == 0L,
      "every word must re-concatenate from its batched-merge symbols")
  }

  test("q416 incremental == full-recount batched: identical merge table " +
    "at the q407 parameters on the fixture") {
    val sp = QuerySpec.prepared(spark, sfDir)
    val (bm, bSyms) = llmops.BpeTokenizer.trainMergesBatched(sp)
    val (im, iSyms, iCounts) = llmops.BpeTokenizer.trainMergesIncremental(
      sp, llmops.BpeTokenizer.BatchRounds, llmops.BpeTokenizer.BatchM,
      llmops.BpeTokenizer.BatchPool)
    val b = bm.orderBy(col("round"), col("brk")).collect().toSeq
    val i = im.orderBy(col("round"), col("brk")).collect().toSeq
    assert(b == i,
      s"delta-maintained counts must reproduce the full recount: $b vs $i")
    // and the final symbol tables agree row-for-row
    val cols = Seq("word", "freq", "pos", "sym").map(col)
    val ic = iSyms.select(cols: _*); val bc = bSyms.select(cols: _*)
    assert(ic.exceptAll(bc).isEmpty && bc.exceptAll(ic).isEmpty)
    llmops.Checkpoints.unpersist(bSyms)
    llmops.Checkpoints.unpersist(iSyms)
    llmops.Checkpoints.unpersist(iCounts)
  }

  test("q416 maintained pair counts equal a full recount of the final " +
    "symbol table after the full multi-round run") {
    val sp = QuerySpec.prepared(spark, sfDir)
    val (im, iSyms, iCounts) = llmops.BpeTokenizer.trainMergesIncremental(sp)
    assert(im.count() >= 2L, "the equality must be exercised past round 1")
    val full = llmops.BpeTokenizer.pairCounts(
      llmops.BpeTokenizer.withNext(iSyms))
    val maintained = iCounts.select(col("l"), col("r"), col("pair_freq"))
    assert(maintained.exceptAll(full).isEmpty && full.exceptAll(maintained).isEmpty,
      "the delta-maintained relation drifted from ground truth")
    llmops.Checkpoints.unpersist(iSyms)
    llmops.Checkpoints.unpersist(iCounts)
  }

  test("incremental at m = 1, pool = 1 degenerates to the textbook loop") {
    val sp = QuerySpec.prepared(spark, sfDir)
    val (im, iSyms, iCounts) = llmops.BpeTokenizer.trainMergesIncremental(
      sp, rounds = llmops.BpeTokenizer.Merges, m = 1, pool = 1)
    val (tm, tSyms) = llmops.BpeTokenizer.trainMerges(sp)
    val i = im.orderBy(col("round"))
      .select(col("round"), col("l"), col("r"), col("pair_freq")).collect().toSeq
    val t = tm.orderBy(col("round")).collect().toSeq
    assert(i == t, s"m=1 incremental is not the textbook trainer: $i vs $t")
    llmops.Checkpoints.unpersist(iSyms)
    llmops.Checkpoints.unpersist(iCounts)
    llmops.Checkpoints.unpersist(tSyms)
  }

  /** The q433 frozen drop coordinate, replayed in Scala (a THIRD
    * formulation next to the Spark expression and the DuckDB text). */
  private def dropCoord(docId: Long, wp: Long, rank: Long): Long =
    ((docId % 1000003L) * 2654435761L + wp * 131L + rank * 524287L) % 1000000L

  private def wordPoly(w: String): Long =
    w.foldLeft(0L)((acc, c) => (acc * 31L + c.toLong) % 1000003L)

  /** Scala reference of the greedy sentinel-string encode under an
    * explicit surviving-rule list (rank-ascending). */
  private def greedyWith(word: String, rules: Seq[(String, Int)]): String = {
    var acc = " " + word.map(_.toString).mkString("  ") + " "
    for (_ <- 1 to llmops.TextAnalysis.BpeRounds)
      rules.sortBy(_._2).map { case (p, _) =>
        (" " + p.replace(" ", "  ") + " ", " " + p.replace(" ", "") + " ")
      }.find { case (pat, _) => acc.contains(pat) }
        .foreach { case (pat, rep) => acc = acc.replace(pat, rep) }
    acc.trim
  }

  test("q433 BPE-dropout: p=0 reduces exactly to the greedy encode, " +
    "p=0.1 actually fires on the fixture, and every changed " +
    "segmentation replays from the frozen hash + rule-subset encode") {
    val sp = QuerySpec.prepared(spark, sfDir)
    val dw = sp.table("documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "").distinct()
      .withColumn("wp", expr(llmops.UnigramTokenizer.WordPolySqlSpark))
    // p = 0: every rule survives — bit-identical to bpeEncodeExpr
    val p0Diff = dw.select(
        trim(llmops.TextAnalysis.bpeDropoutEncodeExpr(
          col("doc_id"), col("word"), col("wp"), 0L)).as("d"),
        trim(llmops.TextAnalysis.bpeEncodeExpr(col("word"))).as("g"))
      .filter(col("d") =!= col("g"))
    assert(p0Diff.count() == 0L, "p=0 must reduce to the greedy encode")
    // p = 0.1: the regularization is non-degenerate on the fixture,
    // and each changed row replays exactly from the Scala reference
    val diffs = dw.select(col("doc_id"), col("word"), col("wp"),
        trim(llmops.TextAnalysis.bpeDropoutEncodeExpr(col("doc_id"),
          col("word"), col("wp"), llmops.TextAnalysis.BpeDropPE6)).as("d"),
        trim(llmops.TextAnalysis.bpeEncodeExpr(col("word"))).as("g"))
      .filter(col("d") =!= col("g"))
      .limit(200).collect()
    assert(diffs.nonEmpty,
      "p=0.1 must change at least one fixture segmentation")
    diffs.foreach { r =>
      val doc = r.getAs[Long]("doc_id"); val w = r.getAs[String]("word")
      val wp = r.getAs[Long]("wp")
      assert(wp == wordPoly(w), s"($doc,$w): wp drifted")
      val kept = llmops.TextAnalysis.BpeMerges.filter { case (_, rank) =>
        dropCoord(doc, wp, rank.toLong) >= llmops.TextAnalysis.BpeDropPE6
      }
      assert(kept.size < llmops.TextAnalysis.BpeMerges.size,
        s"($doc,$w): segmentation changed but no rule was dropped")
      assert(r.getAs[String]("d") == greedyWith(w, kept),
        s"($doc,$w): dropout encode diverged from the rule-subset replay")
    }
  }

  test("q433 selective encode is LOSSLESS: wherever no greedy-APPLIED " +
    "rank is dropped the full dropout loop equals the word-grain " +
    "greedy result, and the majority of fixture pairs take the cheap " +
    "arm") {
    val sp = QuerySpec.prepared(spark, sfDir)
    val dw = sp.table("documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "").distinct()
      .withColumn("wp", expr(llmops.UnigramTokenizer.WordPolySqlSpark))
    val wg = dw.select(col("word")).distinct()
      .withColumn("g", llmops.TextAnalysis.bpeEncodeWithAppliedExpr(col("word")))
      .select(col("word"), col("g.seq").as("gseq"),
        col("g.applied").as("gapplied"))
    val joined = dw.join(wg, Seq("word"))
      .withColumn("needs", exists(col("gapplied"), rk =>
        ((col("doc_id") % 1000003L) * 2654435761L + col("wp") * 131L +
          rk * 524287L) % 1000000L < lit(llmops.TextAnalysis.BpeDropPE6)))
      .withColumn("full", llmops.TextAnalysis.bpeDropoutEncodeExpr(
        col("doc_id"), col("word"), col("wp"),
        llmops.TextAnalysis.BpeDropPE6))
    // the induction claim, checked empirically on every fixture pair:
    // no dropped APPLIED rank => the dropout loop reproduces greedy
    val broken = joined.filter(!col("needs") && col("full") =!= col("gseq"))
    assert(broken.count() == 0L,
      "a pair with no dropped applied rank diverged from greedy — the " +
        "selective-encode prune would be lossy")
    // the applied-rank set also matches the plain greedy sequence
    val seqDrift = wg.join(
      dw.select(col("word")).distinct()
        .withColumn("plain", llmops.TextAnalysis.bpeEncodeExpr(col("word"))),
      Seq("word")).filter(col("gseq") =!= col("plain"))
    assert(seqDrift.count() == 0L,
      "bpeEncodeWithAppliedExpr's seq drifted from bpeEncodeExpr")
    // and the prune actually bites: the cheap arm is the majority
    val n = joined.count(); val needsN = joined.filter(col("needs")).count()
    assert(needsN * 2 < n,
      s"selective prune degenerate: $needsN of $n pairs re-encode")
  }

  test("q433 planted case: dropping the chain-root merge 't a' leaves " +
    "'tablet' at the character floor while the greedy encode reaches " +
    "'table t'") {
    val sp = QuerySpec.prepared(spark, sfDir)
    import sp.implicits._
    val wp = wordPoly("tablet")
    // scan for a doc id whose frozen coordinate drops rank 2 ('t a') —
    // the root of the ta→tab→tabl→table chain — and ONLY that rank
    // among the ranks applicable to 'tablet' (2..5 chain)
    val docId = (0L to 200000L).find { d =>
      dropCoord(d, wp, 2L) < llmops.TextAnalysis.BpeDropPE6 &&
        Seq(3L, 4L, 5L).forall(rk =>
          dropCoord(d, wp, rk) >= llmops.TextAnalysis.BpeDropPE6)
    }.getOrElse(fail("no planted doc id in 200k — hash degenerate"))
    val out = Seq((docId, "tablet"))
      .toDF("doc_id", "word").withColumn("wp", lit(wp))
      .select(
        trim(llmops.TextAnalysis.bpeDropoutEncodeExpr(col("doc_id"),
          col("word"), col("wp"), llmops.TextAnalysis.BpeDropPE6)).as("d"),
        trim(llmops.TextAnalysis.bpeEncodeExpr(col("word"))).as("g"))
      .collect()(0)
    assert(out.getAs[String]("g") == "table  t",
      s"greedy must reach 'table t': got '${out.getAs[String]("g")}'")
    assert(out.getAs[String]("d") == "t  a  b  l  e  t",
      "with 't a' dropped the chain never starts: " +
        s"got '${out.getAs[String]("d")}'")
  }

  test("q402 compression invariants hold on the fixture") {
    val row = SparkEntry.queries("q402_bpe_compression")(spark, sfDir)
      .collect()(0)
    val before = row.getAs[Long]("tokens_before")
    val after = row.getAs[Long]("tokens_after")
    val vocab = row.getAs[Long]("vocab_words")
    assert(after <= before, "merges never grow the token count")
    assert(after >= vocab, "every word keeps at least one symbol")
    assert(row.getAs[Long]("compression_e6") <= 1000000L)
    assert(row.getAs[Long]("distinct_syms") >= 1L)
  }
}
