package graft.llmops

import graft.QuerySpec
import graft.llmops.Checkpoints.{probe, Round, Stageable}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed BPE tokenizer TRAINING — the merge-table learning loop of
  * Sennrich et al. 2016 ("Neural Machine Translation of Rare Words with
  * Subword Units", the algorithm behind GPT/Llama tokenizers), run as
  * pure DataFrame algebra. Each round counts adjacent symbol-pair
  * frequencies across the corpus, picks the single most frequent pair
  * (deterministic tie-break: count DESC, then the pair lexicographically),
  * and rewrites every word by greedy LEFT-TO-RIGHT non-overlapping
  * replacement of that pair — the exact textbook loop, so the learned
  * merge table is reproducible bit-for-bit on any partitioning.
  *
  * Scale shape — the decisive trick is the GRAIN: training never touches
  * the corpus again after one groupBy. The working relation is the
  * DISTINCT-WORD symbol table `(word, freq, pos, sym)` — vocabulary ×
  * average word length rows (~10⁸·6 at web scale, vs 10¹¹+ corpus
  * tokens), where `freq` carries each word's corpus weight so pair
  * counts stay corpus-exact. Per round: pair counting is a map-side-
  * combined groupBy; the winner is a TopN (never a global sort); the
  * rewrite joins the ONE-ROW winner via an explicit broadcast and uses
  * only windows PARTITIONED BY word — each partition is one word's
  * symbols, bounded by the longest word's character count, so no tie
  * block, boilerplate or otherwise, can pin a task (the q383/suffix-
  * array skew discipline). Per-round SYMBOL state is localCheckpoint-ed
  * and transients released, like the suffix-array doubling loop; the
  * round's winner is COLLECTED (≤ m rows — the documented O(1)-result
  * driver probe) and rejoined as a literal relation, so no winner
  * checkpoint is ever retained and the K-row merge-table artifact is a
  * local relation.
  *
  * Greedy left-to-right on "aaaa" with winner (a,a) must yield
  * [aa, aa] — NOT three overlapping matches. Encoded without any
  * per-word UDF: a match CANDIDATE is a position whose (sym, next-sym)
  * equals the winner; within each maximal run of consecutive candidates
  * the kept matches are the 1st, 3rd, 5th, … (odd row number inside the
  * run — runs delimited by the running count of non-candidates), and a
  * row is consumed when its LEFT neighbour was kept. BpeSpec pins the
  * overlap parity, the tie-break, and the empty-winner guard.
  *
  * The reference has no tokenizer trainer (it is a SQL frontend); this
  * is part of the training-data-pipeline surface the build adds on top
  * (SURVEY §2 LLM-ops block). Relation to the existing BPE queries:
  * [[TextAnalysis.q163BpeMerges]] pins the fixpoint machinery of the
  * FIRST TWO merge rounds in a sentinel-spaced string-replace
  * formulation; [[TextAnalysis.q167BpeEncode]] APPLIES a pretrained
  * merge table. This module is the full TRAINER between them — the
  * k-round loop with the empty-winner stop, producing the ordered
  * merge-table artifact (q401) an encoder consumes and the compression
  * metric (q402) a training sweep tunes K against — in a purely
  * relational formulation (run-parity windows, no string surgery)
  * whose per-round cost is independent of symbol text lengths. */
object BpeTokenizer {

  /** Number of merges to learn. A SPEC PARAMETER of the operator (the
    * "first K merges", like k in a top-k) — not a corpus-derived
    * correctness bound: stopping early is always well-defined, and the
    * loop also stops on its own the round no adjacent pair is left
    * anywhere (every word fully merged), so no corpus can run it off
    * the end. Real trainings use K≈30k–100k; the loop cost is K·(one
    * vocab-grain groupBy + one TopN + one broadcast-join rewrite).
    * The K-SEQUENTIAL envelope this implies (30k–100k driver-barrier
    * rounds at production K) is what [[trainMergesBatched]] bounds:
    * its per-round top-m non-interacting batch cuts the round count to
    * K/m with the SAME per-round plan shape. */
  private[graft] val Merges = 6

  /** Corpus words with total occurrence counts — the ONLY corpus-grain
    * pass in the whole training (one map-side-combinable groupBy). */
  private def wordFreqs(sp: SparkSession): DataFrame =
    sp.table("documents")
      .select(explode(split(col("text"), " ")).as("word"))
      // empty tokens (doubled separators) carry no symbols — and Spark's
      // sequence(1, 0) THROWS where DuckDB's range(1, 1) is just empty,
      // so the guard is a cross-engine safety rail, not cosmetics
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** Seed symbol table: one row per (word, char position), `sym` the
    * single character. Character extraction is an explicit
    * sequence/substring transform (not a regex split) so Spark and the
    * DuckDB oracle (`word[i]`) index characters identically. */
  private def seedSyms(sp: SparkSession): DataFrame =
    wordFreqs(sp)
      .select(col("word"), col("freq"),
        posexplode(expr(
          "transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
          .as(Seq("p0", "sym")))
      .select(col("word"), col("freq"),
        (col("p0") + 1).cast("long").as("pos"), col("sym"))

  private def wordW = Window.partitionBy(col("word")).orderBy(col("pos"))

  /** Symbol table with each position's right neighbour attached —
    * consumed by both the pair count and the rewrite, so staged by the
    * caller. The window partitions by WORD: bounded by the longest
    * word's length, never a corpus- or vocab-grain partition. */
  private[graft] def withNext(syms: DataFrame): DataFrame =
    syms.withColumn("nxt", lead(col("sym"), 1).over(wordW))

  /** Corpus-weighted adjacent-pair counts (l, r, pair_freq) off a
    * neighbour-attached symbol table — the relation every winner
    * selection ranks. GroupBy is map-side combined; the relation is
    * PAIR-grain (distinct adjacent pairs), far below the symbol grain. */
  private[graft] def pairCounts(next: DataFrame): DataFrame =
    next.filter(col("nxt").isNotNull)
      .groupBy(col("sym"), col("nxt")).agg(sum(col("freq")).as("pair_freq"))
      .select(col("sym").as("l"), col("nxt").as("r"), col("pair_freq"))

  /** The round's winning pair (l, r, pair_freq) — corpus-weighted count
    * DESC, ties broken lexicographically on (l, r). Empty iff no word
    * has ≥ 2 symbols left. GroupBy is map-side combined; the top-1 is
    * TakeOrdered, not a sort. */
  private[graft] def roundWinner(next: DataFrame): DataFrame =
    pairCounts(next)
      .orderBy(col("pair_freq").desc, col("l"), col("r")).limit(1)

  /** Winner-candidate marking: each position's (sym, nxt) equality-left-
    * joined against the (≤ m-row, broadcast) winner relation; `cand` = 1
    * iff the position opens a match. Shared by [[rewriteMarked]] and the
    * incremental trainer's delta accounting (which also needs the
    * per-WORD touched flag off the same join). */
  private[graft] def mark(next: DataFrame, winner: DataFrame): DataFrame =
    next.join(broadcast(winner.select(col("l"), col("r"))),
        col("sym") === col("l") && col("nxt") === col("r"), "left")
      .withColumn("cand", when(col("l").isNotNull, 1L).otherwise(0L))

  /** Greedy left-to-right rewrite of every word by the winner relation —
    * ONE row (the textbook trainer) or a NON-INTERACTING batch of m
    * (the q407 batched trainer; no two rules share a symbol, so each
    * position matches at most one rule and candidates of different
    * rules can never be consecutive — consecutive candidates are always
    * the same (s, s) rule, which keeps the run-parity algebra exact):
    * candidates → run parity → keep odd matches, drop each kept match's
    * right neighbour, renumber. All windows partition by word. An empty
    * winner relation leaves every word untouched (equality left join). */
  private[graft] def rewrite(next: DataFrame, winner: DataFrame): DataFrame =
    rewriteMarked(mark(next, winner), Nil)

  /** The rewrite proper, over a [[mark]]-ed relation; `carry` names
    * extra columns to thread through to the output (the incremental
    * trainer carries its per-word `touched` flag so the post-rewrite
    * pair deltas can filter to the touched slice without re-deriving
    * it). */
  private def rewriteMarked(m: DataFrame, carry: Seq[String]): DataFrame = {
    val g = m.withColumn("grp",
      sum(when(col("cand") === 0, 1L).otherwise(0L)).over(wordW))
    val h = g.withColumn("take",
      when(col("cand") === 1 &&
        row_number().over(Window.partitionBy(col("word"), col("grp"),
          col("cand")).orderBy(col("pos"))) % 2 === 1, 1L)
        .otherwise(0L))
    val out = h.withColumn("ptake", lag(col("take"), 1, 0L).over(wordW))
      .filter(col("ptake") === 0)
      .withColumn("sym2",
        when(col("take") === 1, concat(col("sym"), col("r")))
          .otherwise(col("sym")))
      .withColumn("pos2", row_number().over(wordW).cast("long"))
    out.select((Seq(col("word"), col("freq"), col("pos2").as("pos"),
      col("sym2").as("sym")) ++ carry.map(col)): _*)
  }

  /** Run the training loop: returns (merge table with 1-based `round`,
    * final symbol table). Each round's symbol table is staged and its
    * predecessor released ([[Checkpoints.rounds]]). The round's winner is
    * selected INSIDE the rewrite's own execution (the TopN relation joins
    * the rewrite as a broadcast subtree) and its one row is read back as
    * the probe of the round's staging job — ONE execution per round, not
    * a winner collect plus a rewrite checkpoint. The merge table is
    * reconstructed on the driver from the per-round probes, so it stays a
    * local relation and the loop retains ZERO winner checkpoints. */
  private[graft] def trainMerges(sp: SparkSession,
                                 rounds: Int = Merges): (DataFrame, DataFrame) = {
    import sp.implicits._
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    val syms = Checkpoints.rounds(seedSyms(sp).staged, rounds)(Seq(_)) {
        (syms, k) =>
      // NOT staged: the lead() window re-evaluates in the rewrite's own
      // word-partitioned sort (same partition key, one pipeline), so
      // re-deriving it from the checkpointed symbol table is cheaper
      // than a third per-round materialization. The winner's pairCounts
      // subtree re-derives it once more on the broadcast side of the
      // SAME execution.
      val next = withNext(syms)
      val winner = probe(roundWinner(next), max(col("l")).as("l"),
        max(col("r")).as("r"), max(col("pair_freq")).as("f"),
        count(lit(1)).as("n"))
      Round[DataFrame](rewrite(next, winner)) { (rewritten, p) =>
        // no adjacent pair anywhere: the rewrite was an identity copy —
        // keep the previous state and record no merge
        if (p("n", 0L) == 0L) (syms, false)
        else {
          merges += ((k + 1L, p("l", ""), p("r", ""), p("f", 0L)))
          (rewritten, true)
        }
      }
    }
    val mergeTable = merges.result()
      .toDF("round", "l", "r", "pair_freq")
    (mergeTable, syms)
  }

  /** DuckDB oracle: the same loop with each round unrolled into one CTE
    * chain (pairs → winner → candidates → run parity → rewrite) —
    * generated programmatically so the two engines can never drift on
    * round count. `LEFT JOIN ... ON TRUE` mirrors the Spark side's
    * empty-winner guard. */
  private def oracleRound(k: Int): String = {
    val i = s"syms$k"
    s"""pairs$k AS (
       |  SELECT a.sym AS l, b.sym AS r, CAST(SUM(a.freq) AS BIGINT) AS c
       |  FROM $i a JOIN $i b ON a.word = b.word AND b.pos = a.pos + 1
       |  GROUP BY 1, 2),
       |win$k AS (SELECT l, r, c FROM pairs$k ORDER BY c DESC, l, r LIMIT 1),
       |m$k AS (
       |  SELECT s.word, s.freq, s.pos, s.sym, w.l, w.r,
       |    CASE WHEN s.sym = w.l AND
       |              LEAD(s.sym) OVER (PARTITION BY s.word ORDER BY s.pos) = w.r
       |         THEN 1 ELSE 0 END AS cand
       |  FROM $i s LEFT JOIN win$k w ON TRUE),
       |g$k AS (
       |  SELECT *, SUM(CASE WHEN cand = 0 THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY word ORDER BY pos) AS grp
       |  FROM m$k),
       |h$k AS (
       |  SELECT *, CASE WHEN cand = 1 AND
       |      ROW_NUMBER() OVER (PARTITION BY word, grp, cand ORDER BY pos) % 2 = 1
       |    THEN 1 ELSE 0 END AS take
       |  FROM g$k),
       |syms${k + 1} AS MATERIALIZED (
       |  SELECT word, freq,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS BIGINT) AS pos,
       |    CASE WHEN take = 1 THEN sym || r ELSE sym END AS sym
       |  FROM (SELECT *, COALESCE(LAG(take) OVER (PARTITION BY word ORDER BY pos), 0)
       |          AS ptake FROM h$k) z
       |  WHERE ptake = 0)""".stripMargin
  }

  /** Seed CTEs (words0 + syms0) shared by the textbook-loop oracle and
    * the batched-trainer oracle. */
  private def oracleSeed: String =
    """words0 AS (
      |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
      |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) u
      |  WHERE word != ''
      |  GROUP BY word),
      |syms0 AS MATERIALIZED (
      |  -- each round reads its syms 3x (both pair arms + the rewrite):
      |  -- MATERIALIZED stops the inlining from compounding 3^rounds
      |  -- (the q325 exponential-CTE trap)
      |  SELECT word, freq, CAST(i AS BIGINT) AS pos, word[i] AS sym
      |  FROM words0, LATERAL (SELECT unnest(range(1, len(word) + 1)) AS i) u)"""
      .stripMargin

  private[llmops] def oracleCtes(rounds: Int): String =
    (oracleSeed +: (0 until rounds).map(oracleRound)).mkString(",\n")

  /** The learned merge table itself — round, pair, merged token, corpus-
    * weighted pair frequency. THE artifact a tokenizer trainer ships. */
  val q401BpeMerges: QuerySpec = QuerySpec(
    "q401_bpe_merges",
    s"""WITH ${oracleCtes(Merges)},
       |merges AS (${(0 until Merges)
        .map(k => s"SELECT ${k + 1} AS round, l, r, c FROM win$k")
        .mkString(" UNION ALL ")})
       |SELECT CAST(round AS BIGINT) AS round, l AS left_sym, r AS right_sym,
       |       l || r AS merged, c AS pair_freq
       |FROM merges ORDER BY round""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val (mergeTable, finalSyms) = trainMerges(sp)
    Checkpoints.unpersist(finalSyms)
    mergeTable.select(col("round"), col("l").as("left_sym"),
      col("r").as("right_sym"), concat(col("l"), col("r")).as("merged"),
      col("pair_freq"))
      .orderBy(col("round"))
  }

  /** Corpus compression achieved by the learned merges: exact
    * corpus-weighted token counts before (characters) and after, the
    * surviving subword vocabulary, and the compression ratio — the
    * quality signal a tokenizer-training sweep tunes K against.
    * Single-row exact-integer aggregate over the final symbol table. */
  val q402BpeCompression: QuerySpec = QuerySpec(
    "q402_bpe_compression",
    s"""WITH ${oracleCtes(Merges)},
       |per_word AS (
       |  SELECT word, MAX(freq) AS freq, CAST(COUNT(*) AS BIGINT) AS n_syms,
       |         CAST(LEN(word) AS BIGINT) AS n_chars
       |  FROM syms$Merges GROUP BY word)
       |SELECT CAST(COUNT(*) AS BIGINT) AS vocab_words,
       |  CAST((SELECT COUNT(DISTINCT sym) FROM syms$Merges) AS BIGINT)
       |    AS distinct_syms,
       |  CAST(SUM(freq * n_chars) AS BIGINT) AS tokens_before,
       |  CAST(SUM(freq * n_syms) AS BIGINT) AS tokens_after,
       |  CAST(ROUND(SUM(freq * n_syms) * 1e6 / SUM(freq * n_chars)) AS BIGINT)
       |    AS compression_e6
       |FROM per_word""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val (mergeTable, finalSyms) = trainMerges(sp)
    Checkpoints.unpersist(mergeTable)
    val perWord = finalSyms.groupBy(col("word"))
      .agg(max(col("freq")).as("freq"), count(lit(1)).as("n_syms"))
      .withColumn("n_chars", length(col("word")).cast("long"))
    val vocab = finalSyms.agg(
      countDistinct(col("sym")).as("distinct_syms"))
    perWord.agg(
      count(lit(1)).as("vocab_words"),
      sum(col("freq") * col("n_chars")).as("tokens_before"),
      sum(col("freq") * col("n_syms")).as("tokens_after"),
      round(sum(col("freq") * col("n_syms")).cast("double") * 1e6
        / sum(col("freq") * col("n_chars")).cast("double"))
        .cast("long").as("compression_e6"))
      .crossJoin(broadcast(vocab))
      .select(col("vocab_words"), col("distinct_syms"), col("tokens_before"),
        col("tokens_after"), col("compression_e6"))
  }

  // ---------------------------------------------------------------------
  // q406 — the train → encode composition: the q401-LEARNED merge table
  // is the tokenizer artifact; this query APPLIES it.
  // ---------------------------------------------------------------------

  /** Encode the corpus, per source split, with the merge table q401
    * LEARNED — the composition that makes the trainer a tokenizer
    * pipeline (train → ship artifact → encode) instead of two halves
    * that never meet. The encoder is [[TextAnalysis.bpeEncodeStateWith]]
    * (the q167 greedy lowest-rank-first loop) fed the TRAINED table,
    * not the static literal; per-source compression is the held-out
    * signal (the table was learned on the FULL corpus, each source is
    * encoded as its own split). [[Merges]] encode rounds suffice: each
    * round applies one rule per word, so a word needs at most one round
    * per distinct applicable rule.
    *
    * Scale shape: training is the q401 envelope (vocab-grain rounds);
    * the encode adds one corpus-grain (word, source) rollup — the only
    * new corpus pass — then vocab-grain broadcast-join rounds (the
    * learned table is K rows — a few MB at K=100k) and one grouped
    * join back to the rollup. BpeSpec pins that encoding the TRAINING
    * corpus with the learned table reproduces the trainer's own final
    * symbol table (the standard BPE replay property; it can break only
    * when a later merge recreates an earlier rule's pair string —
    * impossible at this K on single-character-seeded text). */
  val q406BpeTrainedEncode: QuerySpec = QuerySpec(
    "q406_bpe_trained_encode",
    s"""WITH ${oracleCtes(Merges)},
       |mt AS (SELECT l || ' ' || r AS pair, rank FROM (${(0 until Merges)
        .map(k => s"SELECT l, r, ${k + 1} AS rank FROM win$k")
        .mkString(" UNION ALL ")}) u),
       |ws AS (SELECT word, source, CAST(COUNT(*) AS BIGINT) AS n
       |       FROM (SELECT source, unnest(string_split(text, ' ')) AS word
       |             FROM documents) x
       |       WHERE word != '' GROUP BY word, source),
       |ev AS (SELECT word, CAST(SUM(n) AS BIGINT) AS n FROM ws GROUP BY word),
       |${TextAnalysis.bpeEncodeUnrollCtes("mt", "ev", Merges)},
       |tk AS (SELECT word,
       |         CAST(len(string_split(trim(seq), '  ')) AS BIGINT) AS n_tokens,
       |         CAST(len(word) AS BIGINT) AS n_chars
       |       FROM s$Merges)
       |SELECT ws.source,
       |  CAST(SUM(ws.n) AS BIGINT) AS n_words,
       |  CAST(SUM(ws.n * tk.n_chars) AS BIGINT) AS tokens_before,
       |  CAST(SUM(ws.n * tk.n_tokens) AS BIGINT) AS tokens_after,
       |  CAST(ROUND(SUM(ws.n * tk.n_tokens) * 1e6 / SUM(ws.n * tk.n_chars))
       |    AS BIGINT) AS compression_e6
       |FROM ws JOIN tk USING (word)
       |GROUP BY ws.source ORDER BY ws.source""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val (mergeTable, finalSyms) = trainMerges(sp)
    Checkpoints.unpersist(finalSyms)
    val learned = mergeTable.select(
      concat_ws(" ", col("l"), col("r")).as("pair"), col("round").as("rank"))
    val ws = TextAnalysis.perSourceWordCounts(sp)
      .staged // the encode vocab AND the per-source report both read it
    val vocab = ws.groupBy("word").agg(sum(col("n")).as("n"))
    val enc = TextAnalysis.bpeEncodeStateWith(sp, vocab, learned, Merges)
    val tk = enc.selectExpr("word",
      "cast(size(split(trim(seq), '  ')) as long) AS n_tokens",
      "cast(length(word) as long) AS n_chars")
    TextAnalysis.perSourceCompression(ws, tk)
  }

  // ---------------------------------------------------------------------
  // q407 — the BATCHED trainer: top-m non-interacting merges per round,
  // bounding the K-sequential envelope to K/m rounds.
  // ---------------------------------------------------------------------

  /** Batch size: merges applied per round. K merges need K/m rounds. */
  private[graft] val BatchM = 3

  /** Candidate-pool depth the per-round batch is selected from — a
    * documented cap: a pair blocked only by candidates BELOW the pool
    * cut cannot be selected this round (it returns in a later round, so
    * no merge is ever lost, only deferred). Pool² drives the blocking
    * self-join: 16² = 256 comparisons, broadcast-trivial. */
  private[graft] val BatchPool = 16

  /** Batched training rounds for q407: 2 × [[BatchM]] = the same merge
    * budget as q401's K = 6, in one third the rounds. */
  private[graft] val BatchRounds = 2

  /** The round's batch of up to m NON-INTERACTING winners, selected
    * from the top-[[BatchPool]] candidate pairs: ranked by corpus-
    * weighted count DESC then (l, r), a candidate is kept iff NO
    * higher-ranked candidate in the pool shares a symbol with it
    * (rank-blind blocking — a pure per-pair predicate over the pool,
    * fully parallel; kept-aware greedy would chain sequentially).
    * Because kept rules share no symbol, every position matches at most
    * one rule and all batch counts/candidates are consistently
    * evaluated against the ROUND-START state — the documented batched-
    * BPE variant (cf. the m=1 case, which IS the textbook trainer:
    * rank 1 is never blocked, so the first batch member of round 1
    * equals q401's first merge). Returns (l, r, pair_freq, brk) with
    * brk the 1-based in-batch rank. */
  private[graft] def batchWinners(next: DataFrame, m: Int, pool: Int): DataFrame =
    batchWinnersFromCounts(pairCounts(next), m, pool)

  /** Batch selection off an ALREADY-COUNTED pair relation — the form the
    * incremental trainer ([[trainMergesIncremental]]) ranks its staged
    * delta-maintained counts with (no per-round recount anywhere in its
    * selection path). */
  private[graft] def batchWinnersFromCounts(counts: DataFrame, m: Int,
                                            pool: Int): DataFrame = {
    // TakeOrdered pool, then windows over the ≤pool-row relation only
    val pooled = counts
      .orderBy(col("pair_freq").desc, col("l"), col("r")).limit(pool)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("pair_freq").desc, col("l"), col("r"))))
    val blockers = pooled.select(col("rk").as("q_rk"), col("l").as("q_l"),
      col("r").as("q_r"))
    pooled.join(blockers,
        col("q_rk") < col("rk") &&
          (col("q_l") === col("l") || col("q_l") === col("r") ||
            col("q_r") === col("l") || col("q_r") === col("r")),
        "left_anti")
      .orderBy(col("rk")).limit(m)
      .withColumn("brk",
        row_number().over(Window.orderBy(col("rk"))).cast("long"))
      .select(col("l"), col("r"), col("pair_freq"), col("brk"))
  }

  /** The batched training loop: identical ledger discipline to
    * [[trainMerges]], but each round applies a batch of up to `m`
    * non-interacting winners through the SAME [[rewrite]] algebra —
    * K merges in K/m driver-barrier rounds, the fix for the trainer's
    * one production-parameter gap (at K ≈ 30k, 30k sequential Spark
    * job rounds are hours of pure stage latency at ANY corpus size;
    * m = 256 makes that ~120 rounds). Returns (merge table with
    * 1-based `round` and in-batch `brk`, final symbol table). */
  private[graft] def trainMergesBatched(
      sp: SparkSession, rounds: Int = BatchRounds, m: Int = BatchM,
      pool: Int = BatchPool): (DataFrame, DataFrame) = {
    import sp.implicits._
    val merges = Seq.newBuilder[(Long, Long, String, String, Long)]
    val syms = Checkpoints.rounds(seedSyms(sp).staged, rounds)(Seq(_)) {
        (syms, k) =>
      // NOT staged — same one-materialization-per-round ledger as
      // [[trainMerges]]: the batch selection and the rewrite each derive
      // the lead() column from the checkpointed symbol table in their
      // own (already word-sorted) pipeline, within ONE execution.
      val next = withNext(syms)
      // the ≤ m-row batch is selected inside the rewrite's execution
      // (broadcast subtree) and read back as ONE collect_list probe
      val winners = probe(batchWinners(next, m, pool), batchProbe)
      Round[DataFrame](rewrite(next, winners)) { (rewritten, p) =>
        val win = batchOf(p)
        if (win.isEmpty) (syms, false) // identity copy; keep prior state
        else {
          merges ++= win.map { case (brk, l, r, f) => (k + 1L, brk, l, r, f) }
          (rewritten, true)
        }
      }
    }
    val mergeTable = merges.result()
      .toDF("round", "brk", "l", "r", "pair_freq")
    (mergeTable, syms)
  }

  /** The probe that carries a round's winner batch off its staging job. */
  private def batchProbe =
    collect_list(struct(col("brk"), col("l"), col("r"), col("pair_freq")))
      .as("ws")

  /** The winner batch ([[batchProbe]]) as (brk, l, r, pair_freq) in batch
    * rank order — collect_list order is nondeterministic, brk restores
    * it; empty when no pair was left. */
  private def batchOf(p: Checkpoints.Probes): Seq[(Long, String, String, Long)] =
    p[scala.collection.Seq[Row]]("ws", Nil).toSeq
      .map(w => (w.getAs[Long]("brk"), w.getAs[String]("l"),
        w.getAs[String]("r"), w.getAs[Long]("pair_freq")))
      .sortBy(_._1)

  // ---------------------------------------------------------------------
  // q416 — the INCREMENTAL trainer: the pair-count relation is staged
  // across rounds and updated with +/- deltas from only the words the
  // previous batch rewrote. q407 bounded the round COUNT (K/m); this
  // bounds per-round COST — the classic incremental-BPE bookkeeping
  // (Sennrich's reference trainer keeps a pair-statistics dict updated
  // in place) re-expressed as relational delta maintenance.
  // ---------------------------------------------------------------------

  /** q416's merge budget: rounds × m = 48 merges — 8× q401's K, the
    * "larger K" drill point where per-round recount cost separates from
    * per-round delta cost. */
  private[graft] val IncRounds = 6
  private[graft] val IncM = 8
  private[graft] val IncPool = 32

  /** The batched loop with INCREMENTAL pair-count maintenance. Exactly
    * [[trainMergesBatched]]'s semantics (same [[batchWinnersFromCounts]]
    * ranking, same [[rewriteMarked]] algebra — BpeSpec pins the merge
    * tables equal), but each round's counts come from the staged
    * pair-count relation of the previous round plus two TOUCHED-SLICE
    * deltas: −(old pairs of words containing a winner) and +(new pairs
    * of the same words after the rewrite). Untouched words' pairs are
    * untouched by the rewrite, so the maintained relation equals a full
    * recount ALGEBRAICALLY (exact integer +/−; the spec pins the
    * equality after the full run).
    *
    * MEASURED OUTCOME (r18, the reason this is NOT the production
    * path): the classic incremental trainer's win does not transfer to
    * the relational formulation. The hypothesis was that the full
    * recount pays a symbol-grain pass per round where only a shrinking
    * slice changed; measured at K = 48 (6 rounds × m = 8, BpeDrill,
    * local[32], warm), the delta loop is the SLOWER one at BOTH ends —
    * ~1.3× on the 31-word fixture vocab (sf0.1) and ~1.2× on a
    * synthetic 200k-word vocab (~1.4M-row symbol table; recount ~12.5 s
    * vs delta ~14.6 s). Two mechanisms: (a) the
    * recount's groupBy is map-side combined, so its SHUFFLE is already
    * pair-grain — the full pass the delta scheme saves is one narrow
    * scan of a cached relation; (b) the rewrite + neighbour windows are
    * themselves O(symbols) passes every round (identifying candidates
    * IS a scan without a pair→word index, which a relational plan
    * cannot maintain without breaking the hash(word) co-partitioning
    * the window rounds reuse), so the delta bookkeeping ADDS two
    * touched-slice aggregations, a pair-grain merge, and one extra
    * checkpoint per round while removing only (a)'s cheap scan. Per-
    * round cost is dominated by FIXED stage latency at every vocab size
    * tested (~0.5 s/round at 31 words, ~2 s/round at 200k words for a
    * 6500× vocab growth) — the production-K axis that actually matters
    * is the ROUND COUNT, owned by the m-batching (q407). Kept, spec-
    * pinned and oracle-gated (q416), as the measured-and-documented
    * alternative.
    *
    * The per-word `touched` flag is a word-partitioned window max over
    * the [[mark]] join (no shuffle on the cached hash(word) layout) and
    * rides through the rewrite so the +delta filters the ALREADY-
    * renumbered table without a re-derive.
    *
    * Returns (merge table, final symbol table, final maintained counts
    * — the spec's recount-equality handle). All three are live staged
    * relations; the caller releases what it does not keep. */
  private[graft] def trainMergesIncremental(
      sp: SparkSession, rounds: Int = IncRounds, m: Int = IncM,
      pool: Int = IncPool): (DataFrame, DataFrame, DataFrame) = {
    import sp.implicits._
    // ONE staged relation carries the symbol state per round: the
    // neighbour-attached table (`next`). The bare symbol table is a
    // projection of it, so staging both (the trainMergesBatched ledger)
    // would checkpoint the same rows twice per round.
    val next0 = withNext(seedSyms(sp)).staged
    val merges = Seq.newBuilder[(Long, Long, String, String, Long)]
    // state: (next, the maintained pair counts); a round stages the
    // marked relation (the −delta AND the rewrite read it), then the
    // new state — the marked relation is released with the old state
    type State = (DataFrame, DataFrame)
    val (next, counts) = Checkpoints.rounds[State](
        (next0, pairCounts(next0).staged), rounds)(s => Seq(s._1, s._2)) {
        case ((next, counts), k) =>
      // batch selected inside the marked relation's execution (broadcast
      // subtree over the staged counts) and read back as one probe
      val winners = probe(batchWinnersFromCounts(counts, m, pool), batchProbe)
      Round[State](mark(next, winners).withColumn("touched",
          max(col("cand")).over(Window.partitionBy(col("word"))))) {
          (marked, p) =>
        val win = batchOf(p)
        if (win.isEmpty) ((next, counts), false) // round never happened
        else {
          merges ++= win.map { case (brk, l, r, f) => (k + 1L, brk, l, r, f) }
          // −delta: every adjacent pair of the words the batch will
          // rewrite, at round-START state
          val negd = marked
            .filter(col("touched") === 1L && col("nxt").isNotNull)
            .groupBy(col("sym"), col("nxt"))
            .agg((-sum(col("freq"))).as("pair_freq"))
            .select(col("sym").as("l"), col("nxt").as("r"), col("pair_freq"))
          val next2 = withNext(rewriteMarked(marked, carry = Seq("touched")))
            .staged // the +delta AND the next round both read it
          // +delta: the same words' pairs AFTER the rewrite
          val posd = next2
            .filter(col("touched") === 1L && col("nxt").isNotNull)
            .groupBy(col("sym"), col("nxt"))
            .agg(sum(col("freq")).as("pair_freq"))
            .select(col("sym").as("l"), col("nxt").as("r"), col("pair_freq"))
          // pair-grain merge; a pair whose count reaches 0 drops out (it
          // re-enters as a fresh row if a later round recreates it)
          val counts2 = counts.unionByName(negd).unionByName(posd)
            .groupBy(col("l"), col("r"))
            .agg(sum(col("pair_freq")).as("pair_freq"))
            .filter(col("pair_freq") > 0)
            .staged
          ((next2, counts2), true)
        }
      }
    }
    val mergeTable = merges.result()
      .toDF("round", "brk", "l", "r", "pair_freq")
    // the final symbol table is the neighbour/bookkeeping projection of
    // the live `next` state (both extra columns absent on a zero-round
    // run, where drop is a no-op)
    (mergeTable, next.drop("nxt").drop("touched"), counts)
  }

  /** One batched round, unrolled for DuckDB — the same candidate pool,
    * rank-blind blocking, top-m batch, and run-parity rewrite. */
  private def batchedOracleRound(k: Int, m: Int, pool: Int): String = {
    val i = if (k == 0) "syms0" else s"bs$k"
    s"""bn$k AS (SELECT word, freq, pos, sym,
       |    LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
       |  FROM $i),
       |bp$k AS (SELECT sym AS l, nxt AS r, CAST(SUM(freq) AS BIGINT) AS c
       |  FROM bn$k WHERE nxt IS NOT NULL GROUP BY 1, 2),
       |bpool$k AS (SELECT l, r, c, ROW_NUMBER() OVER (ORDER BY c DESC, l, r) AS rk
       |            FROM bp$k ORDER BY c DESC, l, r LIMIT $pool),
       |bw$k AS (
       |  SELECT l, r, c, ROW_NUMBER() OVER (ORDER BY rk) AS brk FROM (
       |    SELECT p.l, p.r, p.c, p.rk FROM bpool$k p WHERE NOT EXISTS (
       |      SELECT 1 FROM bpool$k q WHERE q.rk < p.rk AND
       |        (q.l = p.l OR q.l = p.r OR q.r = p.l OR q.r = p.r))
       |    ORDER BY rk LIMIT $m) z),
       |bm$k AS (
       |  SELECT s.word, s.freq, s.pos, s.sym, w.l, w.r,
       |    CASE WHEN w.l IS NOT NULL THEN 1 ELSE 0 END AS cand
       |  FROM bn$k s LEFT JOIN bw$k w ON s.sym = w.l AND s.nxt = w.r),
       |bg$k AS (
       |  SELECT *, SUM(CASE WHEN cand = 0 THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY word ORDER BY pos) AS grp
       |  FROM bm$k),
       |bh$k AS (
       |  SELECT *, CASE WHEN cand = 1 AND
       |      ROW_NUMBER() OVER (PARTITION BY word, grp, cand ORDER BY pos) % 2 = 1
       |    THEN 1 ELSE 0 END AS take
       |  FROM bg$k),
       |bs${k + 1} AS MATERIALIZED (
       |  SELECT word, freq,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS BIGINT) AS pos,
       |    CASE WHEN take = 1 THEN sym || r ELSE sym END AS sym
       |  FROM (SELECT *, COALESCE(LAG(take) OVER (PARTITION BY word ORDER BY pos), 0)
       |          AS ptake FROM bh$k) z
       |  WHERE ptake = 0)""".stripMargin
  }

  /** The full batched-trainer oracle text at an arbitrary (rounds, m,
    * pool) budget — the programmatically-unrolled full-recount replay,
    * shared VERBATIM by q407 (textbook budget), q416 (the delta
    * variant at the 48-merge budget) and q422 (the production recount
    * path at the same 48-merge budget), so no two gates can drift on
    * the batching semantics. */
  private def batchedMergesOracle(rounds: Int, m: Int, pool: Int): String =
    s"""WITH ${(oracleSeed +: (0 until rounds)
        .map(batchedOracleRound(_, m, pool))).mkString(",\n")},
       |merges AS (${(0 until rounds)
        .map(k => s"SELECT ${k + 1} AS round, brk, l, r, c FROM bw$k")
        .mkString(" UNION ALL ")})
       |SELECT CAST(round AS BIGINT) AS round, CAST(brk AS BIGINT) AS batch_rank,
       |       l AS left_sym, r AS right_sym, l || r AS merged, c AS pair_freq
       |FROM merges ORDER BY round, batch_rank""".stripMargin

  /** The batched merge table — q401's artifact shape plus the in-batch
    * rank. q401 stays the textbook semantics pin; this is the variant
    * that survives production K (and, per the r18 measurement recorded
    * on [[trainMergesIncremental]], the PRODUCTION path outright: the
    * full-recount batched loop measured faster than delta maintenance
    * at every vocabulary size this container can hold). */
  val q407BpeBatchedMerges: QuerySpec = QuerySpec(
    "q407_bpe_batched_merges",
    batchedMergesOracle(BatchRounds, BatchM, BatchPool)) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val (mergeTable, finalSyms) = trainMergesBatched(sp)
    Checkpoints.unpersist(finalSyms)
    mergeTable.select(col("round"), col("brk").cast("long").as("batch_rank"),
      col("l").as("left_sym"), col("r").as("right_sym"),
      concat(col("l"), col("r")).as("merged"), col("pair_freq"))
      .orderBy(col("round"), col("batch_rank"))
  }

  /** The larger-K incremental drill under the oracle gate: 48 merges
    * ([[IncRounds]] × [[IncM]] — 8× q401's budget) through the delta-
    * maintained loop, against the SAME programmatically-unrolled
    * full-recount oracle at (m = 8, pool = 32). Benched: this is the
    * delta variant's standing measurement next to q401/q407 — the
    * number behind the measured-outcome note on
    * [[trainMergesIncremental]]. */
  val q416BpeIncrementalMerges: QuerySpec = QuerySpec(
    "q416_bpe_incremental_merges",
    batchedMergesOracle(IncRounds, IncM, IncPool)) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val (mergeTable, finalSyms, finalCounts) = trainMergesIncremental(sp)
    Checkpoints.unpersist(finalSyms)
    Checkpoints.unpersist(finalCounts)
    mergeTable.select(col("round"), col("brk").cast("long").as("batch_rank"),
      col("l").as("left_sym"), col("r").as("right_sym"),
      concat(col("l"), col("r")).as("merged"), col("pair_freq"))
      .orderBy(col("round"), col("batch_rank"))
  }

  /** The PRODUCTION trainer at the 48-merge drill budget: the full-
    * recount batched loop ([[trainMergesBatched]]) at q416's exact
    * (rounds = [[IncRounds]], m = [[IncM]], pool = [[IncPool]])
    * parameters, under the SAME unrolled oracle — the two trainers are
    * algebraically equal (BpeSpec pins the merge tables), so the gate
    * text is shared verbatim. This is the query the BENCH set times
    * (r18 VERDICT: the bench must track the path a production run
    * takes; q416's delta variant is the measured-slower alternative,
    * kept oracle-gated for its own correctness but no longer the
    * family's timing sentinel — a recount-path regression was
    * previously invisible). */
  val q422BpeBatchedMergesK48: QuerySpec = QuerySpec(
    "q422_bpe_batched_merges_k48",
    batchedMergesOracle(IncRounds, IncM, IncPool)) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val (mergeTable, finalSyms) =
      trainMergesBatched(sp, rounds = IncRounds, m = IncM, pool = IncPool)
    Checkpoints.unpersist(finalSyms)
    mergeTable.select(col("round"), col("brk").cast("long").as("batch_rank"),
      col("l").as("left_sym"), col("r").as("right_sym"),
      concat(col("l"), col("r")).as("merged"), col("pair_freq"))
      .orderBy(col("round"), col("batch_rank"))
  }

  // q401 joins the bench headline set: it exercises the iterative
  // checkpointed-loop envelope (like q325/q381) at the vocab grain;
  // q422 benches the PRODUCTION (full-recount batched) loop at the
  // 48-merge budget — q416's delta variant stays oracle-gated only
  val all: Seq[QuerySpec] = Seq(q401BpeMerges.benched, q402BpeCompression,
    q406BpeTrainedEncode, q407BpeBatchedMerges,
    q416BpeIncrementalMerges, q422BpeBatchedMergesK48.benched)
}
