package graft

import org.apache.spark.sql.functions._
import org.scalatest.time.SpanSugar._

/** Pins the distributed suffix-array construction (llmops.SuffixArray):
  * the prefix-doubling ranks must reproduce the DIRECT lexicographic
  * suffix sort exactly — ties (identical suffixes) included — because
  * the q380 oracle is DuckDB's `ORDER BY w[pos:]` over the very same
  * suffixes. The reference check here sorts the materialized suffix
  * word-arrays with a plain rank window (fine in a test; the
  * production path never does this — that is the point of the
  * doubling). */
class SuffixArraySpec extends EngineSuite with BoundedTests {
  def testLimit = 3.minutes


  test("prefix-doubling ranks == direct lexicographic suffix sort, ties included") {
    val sp = QuerySpec.prepared(spark, sfDir)
    val sa = llmops.SuffixArray.suffixRanks(sp)

    val docs = sp.table("documents")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    val expected = docs
      .select(col("doc_id"), posexplode(col("w")).as(Seq("p0", "word")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"))
      .join(docs, "doc_id")
      .select(col("doc_id"), col("pos"),
        expr("slice(w, int(pos), size(w) - int(pos) + 1)").as("suf"))
      .select(col("doc_id"), col("pos"),
        rank().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("suf")))
          .cast("long").as("rank"))

    val n = expected.count()
    assert(sa.count() == n, "one rank row per (doc, word position)")
    val mismatches = sa.join(expected, Seq("doc_id", "pos"))
      .filter(sa("rank") =!= expected("rank"))
      .count()
    assert(mismatches == 0L,
      s"$mismatches suffix positions rank differently from the direct sort")
  }

  test("q381 max LCP is realized by an adjacent pair and bounded by doc length") {
    val sp = QuerySpec.prepared(spark, sfDir)
    val row = SparkEntry.queries("q381_sa_lcp_stats")(spark, sfDir).collect()(0)
    // EVERY adjacent pair must surface: n-1 of them for n suffixes (the
    // regression mode of the Prefix dual-exchange bug was silent row
    // loss here — 6,838 pairs out of 27,938)
    val nSuffixes = sp.table("documents")
      .select(size(split(col("text"), " ")).cast("long").as("n"))
      .agg(sum("n")).collect()(0).getLong(0)
    assert(row.getAs[Long]("n_pairs") == nSuffixes - 1,
      s"adjacent pairs ${row.getAs[Long]("n_pairs")} != suffixes-1 ${nSuffixes - 1}")
    val maxLcp = row.getAs[Long]("max_lcp")
    val phrase = row.getAs[String]("top_phrase")
    val maxWords = sp.table("documents")
      .select(size(split(col("text"), " ")).as("n")).agg(max("n"))
      .collect()(0).getInt(0)
    assert(maxLcp >= 0 && maxLcp <= maxWords)
    // the reported passage really is maxLcp words long
    assert(phrase.isEmpty && maxLcp == 0 ||
      phrase.split(" ").length.toLong == maxLcp)
    // and it really occurs at least twice in the corpus
    if (maxLcp > 0) {
      val hits = sp.table("documents")
        .filter(col("text").contains(phrase)).count()
      assert(hits >= 1L, "top phrase must occur in the corpus")
    }
  }

  test("q382 covered tokens never exceed the source total") {
    val rows = SparkEntry.queries("q382_sa_dup_coverage")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val tot = r.getAs[Long]("total_tokens")
      val dup = r.getAs[Long]("dup_tokens")
      assert(dup >= 0L && dup <= tot,
        s"source ${r.getAs[String]("source")}: dup $dup vs total $tot")
    }
  }

  /** A session whose `documents` view is the given (doc_id, source,
    * text) rows — isolated temp-view registry, shared SparkContext. */
  private def syntheticDocs(rows: Seq[(Long, String, String)]) = {
    val sp = spark.newSession()
    import sp.implicits._
    rows.toDF("doc_id", "source", "text").createOrReplaceTempView("documents")
    sp
  }

  test("refineBlocks collapses to the distinct (r1, r2) relation and " +
    "reproduces the per-block windowed rank exactly under 30% skew") {
    import org.apache.spark.sql.expressions.Window
    val sp = spark
    import sp.implicits._
    // 30%-skew fixture: one boilerplate tie block (r1 = 1) holds 300 of
    // 1000 rows over just 4 distinct lookahead ranks — the web-scale
    // shape where a window PARTITIONED BY r1 pins 10^8 rows on 1 task.
    // Blocks keep the RANK-numbering invariant the loop guarantees:
    // block r1 with s members owns the value range [r1, r1+s-1],
    // disjoint from every other block (hot block 1..300; 7-row tail
    // blocks from 301 on).
    val rows =
      (0 until 300).map(i => (1L, (i % 4 + 10).toLong)) ++      // hot block
      (0 until 700).map { i =>                                   // long tail
        val block = 301L + 7L * (i / 7)
        (block, (i % 5).toLong * 3 + block)                      // ~5 r2s each
      }
    val joined = rows.toDF("r1", "r2")
    val out = llmops.SuffixArray.refineBlocks(joined)
    // the collapse: the aggregate IS the window input — one row per
    // distinct (r1, r2) pair, never per source row
    val nPairs = joined.select("r1", "r2").distinct().count()
    assert(out.count() == nPairs,
      s"refineBlocks must emit the collapsed relation ($nPairs pairs)")
    // semantic pin: joined back, (rank, gs) match the r15 per-row
    // windowed formulation row for row
    val windowed = joined
      .withColumn("rank", col("r1") - 1 +
        rank().over(Window.partitionBy(col("r1")).orderBy(col("r2")))
          .cast("long"))
      .withColumn("gs", count(lit(1)).over(Window.partitionBy(col("rank"))))
    val collapsed = joined.join(out, Seq("r1", "r2"))
    val wAgg = windowed.groupBy("r1", "r2", "rank", "gs")
      .agg(count(lit(1)).as("n"))
    val cAgg = collapsed.groupBy("r1", "r2", "rank", "gs")
      .agg(count(lit(1)).as("n"))
    assert(wAgg.exceptAll(cAgg).isEmpty && cAgg.exceptAll(wAgg).isEmpty,
      "collapsed re-rank must equal the windowed formulation exactly")
  }

  test("the round bound derives from the longest doc and resolves ties " +
    "past the r15 128-word cap") {
    // Two docs agreeing through 140 words then diverging: a 128-word
    // context (the r15 compile-time Rounds = 7) ranks their pos-1
    // suffixes as a TIE; the true order is alpha < beta. 141-word docs
    // need ceil(log2 141) = 8 rounds. roundsForMaxLen is the ONE bound
    // — the build feeds it max(pos) off the staged seed.
    assert(llmops.SuffixArray.roundsForMaxLen(141L) == 8)
    assert(llmops.SuffixArray.roundsForMaxLen(128L) == 7)
    assert(llmops.SuffixArray.roundsForMaxLen(129L) == 8)
    assert(llmops.SuffixArray.roundsForMaxLen(1L) == 5) // SeedShift floor (r21: seed widened to 32 words)
    assert(llmops.SuffixArray.roundsForMaxLen(1000000L) == 20)
    val shared = (1 to 140).map(_ => "w").mkString(" ")
    val sp = syntheticDocs(Seq(
      (1L, "s", s"$shared alpha"),
      (2L, "s", s"$shared beta")))
    val sa = llmops.SuffixArray.suffixRanks(sp)
      .filter(col("pos") === 1).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("rank")).toMap
    assert(sa(1L) < sa(2L),
      s"doc1 pos1 ('...w alpha') must rank before doc2 pos1 ('...w beta') " +
        s"— got ${sa(1L)} vs ${sa(2L)}: ties past 128 words left unresolved")
  }

  test("q396 first occurrence is the (doc, pos) struct-min — exact past " +
    "position 100000 where the r15 positional encode collided") {
    // doc 1 carries the phrase at word position 150001; doc 2 at 5.
    // Corpus-first is doc 1? No: struct-min over (doc, pos) is
    // (1, 150001) — doc SORTS FIRST regardless of position. The r15
    // encode doc*100000+pos gave doc1 the key 250001 > doc2's 200005,
    // silently flipping which copy is kept.
    val phrase = (1 to 8).map(i => s"dup$i")
    val doc1 = ((1 to 150000).map(i => s"a$i") ++ phrase ++ Seq("t1"))
      .mkString(" ")
    val doc2 = ((1 to 4).map(i => s"b$i") ++ phrase ++ Seq("t2")).mkString(" ")
    val sp = syntheticDocs(Seq((1L, "s", doc1), (2L, "s", doc2)))
    import sp.implicits._
    val pairRel = Seq((1L, 1L, 150001L, 2L, 5L, 8L))
      .toDF("idx", "doc_a", "pos_a", "doc_b", "pos_b", "lcp")
    val out = llmops.SuffixArray.removeFromPairs(sp, pairRel).collect()
    assert(out.length == 1, "exactly one doc loses its span")
    assert(out(0).getAs[Long]("doc_id") == 2L,
      "doc 1 (struct-min (1, 150001)) keeps; doc 2 is the later copy — " +
        "the r15 positional encode kept doc 2 instead")
    assert(out(0).getAs[Long]("removed_tokens") == 8L)
  }

  test("q409 credits SHADOWED held-out suffixes: identical test twins " +
    "both reach the train copy through the running-min scan") {
    // Both held-out docs ARE a 10-word chunk of the train doc. In SA
    // order each twin suffix sits adjacent to its TWIN first (rank-tied),
    // with the train suffix beyond it — a naive adjacent-pair-to-train
    // check credits at most one twin; the segmented running min must
    // credit BOTH with the full 10 words. Doc 30 shares nothing and
    // must report 0.
    val chunk = (1 to 10).map(i => s"p$i").mkString(" ")
    val sp = syntheticDocs(Seq(
      (10L, "s1", chunk), (20L, "s1", chunk), // held-out twins (% 10 == 0)
      (1L, "s1", s"x1 x2 $chunk y1"), // train carrier
      (11L, "s2", "z1 z2 z3"), // unrelated train
      (30L, "s2", "q1 q2 q3"))) // clean held-out
    val out = llmops.SuffixArray.decontaminationReport(sp,
        sp.table("documents").select(col("doc_id").as("doc"),
          (col("doc_id") % 10 =!= 0).as("is_train")))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // s1: twins 10 and 20, both contaminated at length 10 ⇒ sum 20
    assert(out("s1") == ((2L, 2L, 10L, 20L)), s"s1 row: ${out("s1")}")
    // s2: doc 30 only, clean
    assert(out("s2") == ((1L, 0L, 0L, 0L)), s"s2 row: ${out("s2")}")
  }

  test("q409 split is DATA: labels following no doc_id arithmetic drive " +
    "the report (production column-driven split)") {
    // Same corpus shape as the twins case but the split labels are
    // deliberately scrambled relative to the ids: 7 and 42 are the
    // held-out twins, 3/9/100 train — no modulus or range recovers
    // this assignment, so any residual id arithmetic in the report
    // would misclassify a doc and fail the expectations.
    val chunk = (1 to 10).map(i => s"p$i").mkString(" ")
    val sp = syntheticDocs(Seq(
      (7L, "s1", chunk), (42L, "s1", chunk), // held-out twins
      (3L, "s1", s"x1 x2 $chunk y1"), // train carrier
      (9L, "s2", "z1 z2 z3"), // train (odd id, still train)
      (100L, "s2", "q1 q2 q3"))) // held-out, clean (even, % 10 == 0 twice over)
    import sp.implicits._
    val splits = Seq((7L, false), (42L, false), (3L, true), (9L, true),
      (100L, false)).toDF("doc", "is_train")
    val out = llmops.SuffixArray.decontaminationReport(sp, splits)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out("s1") == ((2L, 2L, 10L, 20L)), s"s1 row: ${out("s1")}")
    assert(out("s2") == ((1L, 0L, 0L, 0L)), s"s2 row: ${out("s2")}")
  }

  test("ADVICE r18: a non-total or non-unique split relation fails " +
    "LOUDLY instead of silently shifting the prefix sums") {
    val chunk = (1 to 10).map(i => s"p$i").mkString(" ")
    val sp = syntheticDocs(Seq(
      (7L, "s1", chunk), (42L, "s1", chunk),
      (3L, "s1", s"x1 x2 $chunk y1"), (9L, "s2", "z1 z2 z3")))
    import sp.implicits._
    // doc 9 unlabeled: an inner join would silently drop its suffixes
    val partial = Seq((7L, false), (42L, false), (3L, true))
      .toDF("doc", "is_train")
    def chainContains(t: Throwable, needle: String): Boolean =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
        .exists(c => Option(c.getMessage).exists(_.contains(needle)))
    val eTotal = intercept[Exception] {
      graft.discard(
        llmops.SuffixArray.decontaminationReport(sp, partial).collect())
    }
    assert(chainContains(eTotal, "not total"),
      s"expected the totality raise_error, got: ${eTotal.getMessage}")
    // doc 3 labeled with BOTH values: no right answer — must raise
    val dup = Seq((7L, false), (42L, false), (3L, true), (3L, false),
      (9L, true)).toDF("doc", "is_train")
    val eUnique = intercept[Exception] {
      graft.discard(
        llmops.SuffixArray.decontaminationReport(sp, dup).collect())
    }
    assert(chainContains(eUnique, "conflicting or NULL is_train labels"),
      s"expected the uniqueness raise_error, got: ${eUnique.getMessage}")
    // a NULL label is neither train nor test — raise, never resolve
    // the doc by whichever row the shuffle delivers first (r20 review
    // finding: countDistinct alone skips NULLs)
    val withNull = Seq((7L, Some(false)), (42L, Some(false)),
      (3L, Some(true)), (3L, None: Option[Boolean]), (9L, Some(true)))
      .toDF("doc", "is_train")
    val eNull = intercept[Exception] {
      graft.discard(
        llmops.SuffixArray.decontaminationReport(sp, withNull).collect())
    }
    assert(chainContains(eNull, "conflicting or NULL"),
      s"expected the NULL-label raise_error, got: ${eNull.getMessage}")
    // ADVICE r19: duplicate rows whose labels AGREE are consistent —
    // they collapse instead of raising, and the report matches the
    // deduplicated split's answer exactly
    val agree = Seq((7L, false), (7L, false), (42L, false), (3L, true),
      (3L, true), (9L, true)).toDF("doc", "is_train")
    val clean = Seq((7L, false), (42L, false), (3L, true), (9L, true))
      .toDF("doc", "is_train")
    val got = llmops.SuffixArray.decontaminationReport(sp, agree)
      .collect().map(_.toSeq).toSet
    val want = llmops.SuffixArray.decontaminationReport(sp, clean)
      .collect().map(_.toSeq).toSet
    assert(got == want,
      s"agreeing-duplicate split diverged from the deduplicated one: $got vs $want")
  }

  test("q426: the decontamination answer from the PERSISTED artifact " +
    "equals the in-plan answer, and the gated plan reads parquet, " +
    "not a rebuild") {
    val chunk = (1 to 10).map(i => s"p$i").mkString(" ")
    val sp = syntheticDocs(Seq(
      (10L, "s1", chunk), (20L, "s1", chunk),
      (1L, "s1", s"x1 x2 $chunk y1"),
      (11L, "s2", "z1 z2 z3"), (30L, "s2", "q1 q2 q3")))
    val splits = sp.table("documents").select(col("doc_id").as("doc"),
      (col("doc_id") % 10 =!= 0).as("is_train"))
    // a unique artifact key so this synthetic corpus can never collide
    // with (or reuse) the fixture-corpus artifact in the same JVM
    val key = java.nio.file.Files
      .createTempDirectory("graft-sa-spec-").toString
    val persisted = llmops.SuffixArray
      .decontaminationFromPairs(sp, llmops.SuffixArray.saPairs(sp, key),
        splits)
    val inPlan = llmops.SuffixArray.decontaminationReport(sp, splits)
    assert(persisted.collect().map(_.toSeq).toSeq ==
      inPlan.collect().map(_.toSeq).toSeq,
      "persisted-artifact and in-plan answers diverged")
    // the pairs relation itself must be a plain parquet read of the
    // artifact location (the gated plan consumes it beneath a .staged
    // boundary, so the scan is asserted on the relation, not the
    // report's final plan)
    val pairsPlan = llmops.SuffixArray.saPairs(sp, key)
      .queryExecution.executedPlan.toString
    // plan strings truncate long locations — assert the scan format
    // plus the artifact-family path segment rather than the full path
    assert(pairsPlan.contains("FileScan parquet") &&
      pairsPlan.contains("/sa/"),
      s"saPairs must read the persisted artifact:\n$pairsPlan")
  }

  test("q432: a corpus re-release publishes SA v+1 atomically and a " +
    "PINNED old version still answers the OLD corpus after the append") {
    val chunk = (1 to 10).map(i => s"p$i").mkString(" ")
    // OLD release: held-out doc 10's chunk has NO train twin yet —
    // its report is clean. The APPEND brings doc 21, a train twin of
    // the chunk — the new release's report must flag doc 10.
    val oldRows = Seq(
      (10L, "s1", chunk), // held-out (10 % 10 == 0)
      (1L, "s1", "a1 a2 a3"), // train, unrelated
      (11L, "s2", "z1 z2 z3")) // train, unrelated
    val newRows = oldRows :+ ((21L, "s1", chunk)) // the appended crawl
    val sp = syntheticDocs(newRows) // registered view = corpus AFTER append
    import sp.implicits._
    def docsDf(rows: Seq[(Long, String, String)]) =
      rows.toDF("doc_id", "source", "text").select($"doc_id", $"text")
    val splits = newRows.map { case (id, _, _) => (id, id % 10 != 0) }
      .toDF("doc", "is_train")
    import graft.streaming.EventStreams
    val root = java.nio.file.Files
      .createTempDirectory("graft-sarel-spec-").toString + "/pairs"
    val v1 = EventStreams.publishArtifact(root)(
      llmops.SuffixArray.adjacentLcpOf(docsDf(oldRows)))
    val v2 = EventStreams.publishArtifact(root)(
      llmops.SuffixArray.adjacentLcpOf(docsDf(newRows)))
    assert(EventStreams.versions(sp, root) == Seq(v1, v2),
      "both releases must stay readable inside the retention horizon")
    def report(pairs: org.apache.spark.sql.DataFrame): Map[String, Seq[Any]] =
      llmops.SuffixArray.decontaminationFromPairs(sp,
          pairs.select(col("idx"), col("doc_a"), col("doc_b"), col("lcp")),
          splits)
        .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    // the pinned old version answers the OLD corpus — identical to a
    // fresh in-plan build over the pre-append snapshot, and clean
    val pinned = report(EventStreams.readVersion(sp, root, v1))
    val oldDirect = report(llmops.SuffixArray.adjacentLcpOf(docsDf(oldRows)))
    assert(pinned == oldDirect,
      s"pinned v1 drifted from the old-corpus build: $pinned vs $oldDirect")
    assert(pinned("s1")(1) == 0L, // (test_docs, CONTAMINATED, max, sum)
      s"the old release must be clean for s1 (no twin yet): $pinned")
    // the latest version answers the NEW corpus — the append made the
    // chunk contaminated, so pinning vs latest is a REAL distinction
    val latest = report(EventStreams.readLatest(sp, root))
    val newDirect = report(llmops.SuffixArray.adjacentLcpOf(docsDf(newRows)))
    assert(latest == newDirect,
      s"latest drifted from the new-corpus build: $latest vs $newDirect")
    assert(latest("s1")(1) == 1L,
      s"the appended twin must contaminate doc 10 in the new release: $latest")
  }

  test("q418: the source-driven split holds out exactly the HoldOut " +
    "sources and reports every one of them") {
    val rows = SparkEntry.queries("q418_sa_decontamination_by_source")(
      spark, sfDir).collect()
    val got = rows.map(_.getString(0)).toSeq
    assert(got == llmops.SuffixArray.HoldOutSources,
      s"held-out rollup must cover exactly the held-out sources: $got")
    rows.foreach { r =>
      assert(r.getAs[Long]("test_docs") > 0L)
      assert(r.getAs[Long]("contaminated_docs") <= r.getAs[Long]("test_docs"))
    }
  }
}
