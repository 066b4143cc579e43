package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Text-analysis operators for training-data pipelines (driver mandate):
  * language-ID (marker-word heuristic), quality scoring, token counting
  * (whitespace + BPE-ish regex), and document fingerprinting. All are pure
  * column pipelines — codegen'd, no UDFs — and every one is oracle-checked.
  */
object TextAnalysis {

  /** Marker-word lists per language. The heuristic is the n-gram/stopword
    * counting approach of classic langid tools; the marker sets here are small
    * and deterministic so the operator (argmax + tie-break) is the thing under
    * test, not a lexicon. */
  val markers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "fast", "slow", "small"),
    "fr" -> Seq("le", "la", "vite", "petit"),
    "de" -> Seq("der", "die", "das", "schnell"),
    "es" -> Seq("el", "los", "rapido"),
    "zh" -> Seq("shu", "ju", "kuai"))

  private def markerCount(words: Column, lang: String): Column = {
    val lst = markers(lang).map(w => s"'$w'").mkString("array(", ", ", ")")
    expr(s"size(filter(words, w -> array_contains($lst, w)))")
  }

  /** Language ID: count marker tokens per language over the whitespace
    * tokens; predict argmax with deterministic lexicographic tie-break;
    * 'und' when no marker hits at all. */
  def taLangId(spark: SparkSession, dir: String): DataFrame = {
    val langs = markers.keys.toSeq.sorted
    val base = Tables.documentsFanned(spark, dir)
      .withColumn("words", split(trim(col("text")), "\\s+"))
    val withScores = langs.foldLeft(base) { (df, l) =>
      df.withColumn(s"score_$l", markerCount(col("words"), l).cast("long"))
    }
    // argmax with lexicographic tie-break: greatest over (score, inverse-rank,
    // lang) structs — on score ties the larger inverse rank (= earlier lang)
    // wins, matching the oracle's first-match CASE over sorted langs
    val best = langs.zipWithIndex.map { case (l, i) =>
      struct(col(s"score_$l").as("s"), lit(langs.size - i).as("inv"), lit(l).as("l"))
    }
    val winner = greatest(best: _*)
    withScores.select(
      (col("doc_id") +: langs.map(l => col(s"score_$l"))) :+
        when(winner.getField("s") > 0, winner.getField("l")).otherwise("und").as("predicted_lang") :+
        col("lang").as("labeled_lang"): _*)
  }

  /** Quality scoring (reference shape: length/punct/stopword ratios — the
    * quality gate of a pretraining filter): word count, mean word length,
    * alpha ratio, stopword ratio, composite [0,1] score. */
  def taQualityScore(spark: SparkSession, dir: String): DataFrame = {
    val stop = Seq("the", "a", "of", "and")
      .map(w => s"'$w'").mkString("array(", ", ", ")")
    Tables.documentsFanned(spark, dir)
      .withColumn("words", split(trim(col("text")), "\\s+"))
      .withColumn("n_words", size(col("words")).cast("long"))
      .withColumn("n_chars_actual", length(trim(col("text"))).cast("long"))
      .withColumn("mean_word_len",
        round((col("n_chars_actual") - (col("n_words") - 1)).cast("double") / col("n_words"), 6))
      .withColumn("stopword_ratio",
        round(expr(s"size(filter(words, w -> array_contains($stop, w)))").cast("double")
          / col("n_words"), 6))
      .withColumn("quality_score",
        round(least(
          when(col("n_words") >= 10, 0.4).otherwise(col("n_words").cast("double") * 0.04)
            + when(col("mean_word_len").between(3.0, 8.0), 0.3).otherwise(0.0)
            + when(col("stopword_ratio").between(0.05, 0.5), 0.3).otherwise(0.0),
          lit(1.0)), 6))
      .select(col("doc_id"), col("n_words"), col("n_chars_actual"),
        col("mean_word_len"), col("stopword_ratio"), col("quality_score"))
  }

  /** Token counting: whitespace tokens + a BPE-ish regex tokenizer
    * (letter runs / digit runs / single non-space symbols) + a chars-per-token
    * estimate (the ~4 chars/token rule of thumb). */
  def taTokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documentsFanned(spark, dir)
      .select(
        col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("ws_tokens"),
        size(expr("regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\\\s]', 0)")).cast("long")
          .as("bpeish_tokens"),
        ceil(length(col("text")).cast("double") / 4.0).cast("long").as("est_tokens_len4"))

  /** Document fingerprinting: md5 over the sorted distinct token set (bag
    * fingerprint, order-insensitive) + md5 of the raw text (exact). */
  def taFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documentsFanned(spark, dir)
      .withColumn("words", split(trim(col("text")), "\\s+"))
      .select(
        col("doc_id"),
        md5(col("text").cast("binary")).as("exact_fp"),
        md5(concat_ws(" ", array_sort(array_distinct(col("words")))).cast("binary")).as("bag_fp"))

  /** Composed corpus-cleaning pipeline (the C4-style filter chain of a
    * pretraining pipeline): exact-dup survivor selection → length gates →
    * quality gate → language gate, with a first-match drop reason per doc.
    * ONE scan: every signal (fingerprint window, token count, quality
    * composite, lang argmax) is a column over the same pass, and the only
    * shuffle is the dup-survivor window keyed by content hash. */
  def tcCleanCorpus(spark: SparkSession, dir: String): DataFrame =
    cleanCorpusOf(Tables.documentsFanned(spark, dir))

  /** [[tcCleanCorpus]] over a given documents relation. */
  private def cleanCorpusOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stop = Seq("the", "a", "of", "and")
      .map(w => s"'$w'").mkString("array(", ", ", ")")
    val langs = markers.keys.toSeq.sorted
    val base = docs
      .withColumn("words", split(trim(col("text")), "\\s+"))
      .withColumn("n_words", size(col("words")).cast("long"))
      .withColumn("n_chars_actual", length(trim(col("text"))).cast("long"))
      .withColumn("mean_word_len",
        round((col("n_chars_actual") - (col("n_words") - 1)).cast("double") / col("n_words"), 6))
      .withColumn("stopword_ratio",
        round(expr(s"size(filter(words, w -> array_contains($stop, w)))").cast("double")
          / col("n_words"), 6))
      .withColumn("quality_score",
        round(least(
          when(col("n_words") >= 10, 0.4).otherwise(col("n_words").cast("double") * 0.04)
            + when(col("mean_word_len").between(3.0, 8.0), 0.3).otherwise(0.0)
            + when(col("stopword_ratio").between(0.05, 0.5), 0.3).otherwise(0.0),
          lit(1.0)), 6))
      .withColumn("exact_fp", md5(col("text").cast("binary")))
    val withScores = langs.foldLeft(base) { (df, l) =>
      df.withColumn(s"score_$l", markerCount(col("words"), l).cast("long"))
    }
    val best = langs.zipWithIndex.map { case (l, i) =>
      struct(col(s"score_$l").as("s"), lit(langs.size - i).as("inv"), lit(l).as("l"))
    }
    val winner = greatest(best: _*)
    val w = Window.partitionBy(col("exact_fp")).orderBy(col("doc_id").asc)
    val decided = withScores
      .withColumn("predicted_lang",
        when(winner.getField("s") > 0, winner.getField("l")).otherwise("und"))
      .withColumn("dup_rank", row_number().over(w))
      .withColumn("drop_reason",
        when(col("dup_rank") > 1, "exact_dup")
          .when(col("n_words") < 25, "too_short")
          .when(col("n_words") > 90, "too_long")
          .when(col("quality_score") < 0.7, "low_quality")
          .when(col("predicted_lang") === "und", "unknown_lang")
          .otherwise(""))
    decided.select(col("doc_id"),
      (col("drop_reason") === "").as("keep"),
      col("drop_reason"),
      col("n_words"), col("quality_score"), col("predicted_lang"))
  }

  /** Gopher/MassiveText-style repetition filters: duplicate-word and
    * duplicate-bigram fractions plus the top-word fraction, each from ONE
    * codegen'd pass over the text ([[graft.expr.Expressions.RepetitionStats]])
    * — a pure projection, no shuffle at any scale. The `repetitive` flag
    * compares in exact INTEGER arithmetic (top_word_count×10 > n_words ⇔
    * frac > 0.1; dup_bigrams×5 > n_bigrams×2 ⇔ frac > 0.4), so the
    * threshold has no float-boundary risk against the oracle. */
  def taRepetition(spark: SparkSession, dir: String): DataFrame =
    Tables.documentsFanned(spark, dir)
      .select(col("doc_id"), graft.expr.functions.repetition_stats(col("text")).as("st"))
      .select(col("doc_id"),
        col("st").getItem(0).as("n_words"),
        col("st").getItem(1).as("n_distinct_words"),
        col("st").getItem(2).as("top_word_count"),
        col("st").getItem(3).as("n_bigrams"),
        col("st").getItem(4).as("n_distinct_bigrams"))
      .withColumn("top_word_frac",
        round(col("top_word_count").cast("double") / col("n_words"), 6))
      .withColumn("dup_bigram_frac",
        round(when(col("n_bigrams") > 0,
          (col("n_bigrams") - col("n_distinct_bigrams")).cast("double") / col("n_bigrams"))
          .otherwise(0.0), 6))
      .withColumn("repetitive",
        col("top_word_count") * 10 > col("n_words") ||
          (col("n_bigrams") - col("n_distinct_bigrams")) * 5 > col("n_bigrams") * 2)

  /** Full corpus construction: the cleaning chain, then NEAR-dup removal
    * over its survivors — the canonical two-stage dedup of a pretraining
    * pipeline (exact first, fuzzy second, fuzzy only over what survived).
    * A survivor is dropped as `near_dup` iff it word-3-gram-Jaccard-pairs
    * (≥ 0.2, same (lang, source) block) with a LOWER-id survivor: the
    * first-occurrence-wins rule, one anti-join over the pair list with no
    * transitive-closure pass (a doc whose only lower-id neighbor was itself
    * near-dup-dropped is still removed — the standard scale approximation;
    * at 100 TB a connected-components pass would replace it only if cluster
    * canonicalization mattered). Shuffles stay those of the two parts: the
    * survivor semi-join is hash-keyed on doc_id, the pair join on the
    * shingle. */
  def tcCorpusNeardup(spark: SparkSession, dir: String): DataFrame =
    corpusNeardupOf(Tables.documentsFanned(spark, dir))

  /** [[tcCorpusNeardup]] over a given documents relation, which feeds both
    * the clean chain and the survivor semi-join. */
  private def corpusNeardupOf(docs: DataFrame): DataFrame = {
    // the chain verdicts and the survivor shingles each feed multiple
    // consumers and are recomputed per branch here; measured at sf0.1 the
    // recompute is free (persisting them changed nothing warm) — at 100 TB
    // a real curation run would WRITE the survivor corpus between stages
    // (the natural checkpoint), not cache it
    // staged (size-gated lazy localCheckpoint): `cleaned` feeds BOTH the
    // survivor semi-join and the final verdict join — without the cut each
    // consumer re-runs the whole clean chain (scan + quality/lang signals +
    // the dup-survivor window); the staged relation is |docs| × 3 columns
    val cleaned = Tables.stageLocal(
      cleanCorpusOf(docs).select("doc_id", "keep", "drop_reason"))
    val survivors = docs
      .join(cleaned.filter(col("keep")).select("doc_id"), Seq("doc_id"), "left_semi")
    val nearDup = TextDedup.ngramJaccardPairsOf(survivors)
      .select(col("id_b").as("doc_id")).distinct()
      .withColumn("nd", lit(true))
    cleaned.join(nearDup, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("keep") && col("nd").isNull).as("final_keep"),
        when(col("drop_reason") =!= "", col("drop_reason"))
          .when(col("nd").isNotNull, "near_dup")
          .otherwise("").as("drop_reason"))
  }

  /** THE COMPOSED CURATION RUN — every corpus stage as ONE declared plan,
    * the corpus-side analogue of `pipe_e2e` (reference: the end-to-end
    * dataset build `scripts/build_dataset.py`-style chain, re-grounded in
    * this engine's corpus operators). Per document, a first-match drop
    * ladder across five stages, then sequence-packing offsets over the
    * FINAL corpus only:
    *
    *   1. clean chain   — exact-dup / length / quality / language gates
    *   2. near-dup      — 3-gram Jaccard over clean survivors (stage-2
    *                      semantics identical to [[tcCorpusNeardup]])
    *   3. eval holdout  — benchmark docs (`doc_id % EvalMod == 0`) never
    *                      enter the training corpus
    *   4. decontaminate — shares an 8-gram with any eval doc
    *   5. mix           — per-language md5-coin downsampling
    *
    * Stages 1–2 are set-dependent and composed exactly as their standalone
    * operators define them; stages 3–5 are per-doc verdicts, so evaluating
    * them over the full corpus (reusing the standalone operators' plans
    * unchanged) is value-identical to evaluating them over stage-2
    * survivors — the ladder order alone decides the attributed stage.
    * Dropped docs carry NULL offsets; kept docs get their global token
    * offset from the same two-level scan as [[tcPackOffsets]], now keyed
    * by surviving doc ids (sparse blocks are fine — the block-total prefix
    * never assumes density). Shuffle inventory is the union of the parts:
    * nothing new beyond the stages themselves, and the final verdict/pack
    * joins are hash joins on doc_id. */
  def tcCorpusE2e(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.stageLocal(Tables.documentsFanned(spark, dir))
    // staged: the verdict feeds the final join AND the kept-tokens semi-join
    // — uncut, the second consumer re-runs the entire five-stage ladder
    // (clean chain + near-dup pair join included). |docs| × 3 columns.
    // Not through Tables.stageLocal: the optimizer sizes a join as the
    // product of its sides, so the gate reads this per-doc relation as far
    // larger than it is (past the 1 GiB default on a corpus of a few
    // hundred KB) and leaves it unstaged.
    val verdict = curationVerdict(docs).localCheckpoint(false)
    val keptTokens = docs
      .join(verdict.filter(col("final_keep")).select("doc_id"), Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
    verdict.join(packScanOf(keptTokens), Seq("doc_id"), "left")
  }

  /** The per-document first-match drop ladder of [[tcCorpusE2e]] — shared
    * with the data card so the two reports cannot drift. `docs` is the
    * documents relation every stage reads: the callers stage it once
    * (fanned, size-gated), so the corpus is scanned and shuffled once per
    * report instead of once per stage. */
  private def curationVerdict(docs: DataFrame): DataFrame =
    corpusNeardupOf(docs).select(col("doc_id"), col("drop_reason"))
      // eval docs have no decontam row
      .join(decontaminateOf(docs).select(col("doc_id"), col("contaminated")),
        Seq("doc_id"), "left")
      .join(sampleMixOf(docs).select(col("doc_id"), col("sampled")), Seq("doc_id"))
      .withColumn("drop_stage",
        when(col("drop_reason") =!= "", col("drop_reason"))
          .when(col("doc_id") % EvalMod === 0, "eval_holdout")
          .when(coalesce(col("contaminated"), lit(false)), "contaminated")
          .when(!col("sampled"), "mix_sampled_out")
          .otherwise(""))
      .select(col("doc_id"), (col("drop_stage") === "").as("final_keep"),
        col("drop_stage"))

  /** DATASET DATA CARD — the datasheet a released pretraining corpus ships
    * (what went in, what each stage removed, in whose language): per
    * (lang, stage) document and token mass under [[curationVerdict]]'s
    * attribution, 'kept' being the surviving corpus. Tokens are counted for
    * DROPPED docs too — the card's point is what each gate cost, not just
    * what survived. One hash join of the verdict against the corpus on
    * doc_id, one map-side-combinable aggregate on the (lang, stage) pair —
    * the report relation is O(langs × stages) regardless of corpus size. */
  def tcDatacard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.stageLocal(Tables.documentsFanned(spark, dir))
    curationVerdict(docs)
      .join(docs.select(col("doc_id"), col("lang"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_toks")),
        Seq("doc_id"))
      .groupBy(col("lang"),
        when(col("drop_stage") === "", "kept").otherwise(col("drop_stage")).as("stage"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
  }

  /** Per-language sampling rates (percent) for the corpus mix — the
    * downsample-high-resource shape of a pretraining data mix. */
  val mixRates: Seq[(String, Int)] =
    Seq("en" -> 50, "fr" -> 80, "de" -> 80, "es" -> 80, "zh" -> 100)

  /** Deterministic corpus mixing (training-data mandate): each document gets
    * a reproducible 0–99 coin from its content-independent id hash (md5 —
    * engine-portable), and is kept iff coin < its language's rate. Hash-based
    * coins decorrelate the sample from id ordering and survive repartitioning
    * — the property that makes a 100 TB mix reproducible run-to-run. */
  def tcSampleMix(spark: SparkSession, dir: String): DataFrame =
    sampleMixOf(Tables.documents(spark, dir))

  /** [[tcSampleMix]] over a given documents relation. */
  private def sampleMixOf(docs: DataFrame): DataFrame = {
    val rate = mixRates.foldLeft(lit(0)) { case (acc, (l, r)) =>
      when(col("lang") === l, r).otherwise(acc)
    }
    val hex = md5(col("doc_id").cast("string").cast("binary"))
    val coin = (ascii(substring(hex, 1, 1)) * 256 + ascii(substring(hex, 2, 1))) % 100
    docs
      .select(col("doc_id"), col("lang"),
        coin.cast("long").as("coin"),
        rate.cast("long").as("rate"),
        (coin < rate).as("sampled"))
  }

  val StratumK = 20

  /** Fixed-size STRATIFIED SAMPLE — the eval-set construction move
    * ([[tcSampleMix]] keeps a RATE per language; this keeps exactly
    * [[StratumK]] documents per language): rank each stratum by the same
    * md5 shuffle-key contract (content-independent, reproducible,
    * decorrelated from ingest order) and keep the first K. The per-stratum
    * window is bounded — strata are languages, so each partition sorts one
    * language's keys, and at 100 TB the rank prunes to a TakeOrdered-style
    * top-K per stratum rather than a global sort. */
  def tcStratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hex = md5(col("doc_id").cast("string").cast("binary"))
    val w = Window.partitionBy(col("lang")).orderBy(col("sample_key").asc, col("doc_id").asc)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), hex.as("sample_key"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= StratumK)
      .select(col("doc_id"), col("lang"), col("rk"))
  }

  val ChunkSize = 32
  val ChunkStride = 24

  /** Overlapping fixed-window CHUNKING — the sequence-prep step between
    * curation and tokenization: each doc explodes into word windows of
    * `ChunkSize` advancing by `ChunkStride` (8-word overlap carries context
    * across boundaries). A window starts only if the previous one did not
    * already reach the end of the doc, so short docs yield exactly one
    * chunk and no chunk is a suffix of its predecessor:
    * extra = ceil((n − size)/stride) when n > size else 0. Pure
    * generate + projection over built-in slice/md5 (all codegen'd) — the
    * chunk content hash is the join key downstream packing/dedup would
    * use. */
  def tcChunk(spark: SparkSession, dir: String): DataFrame = {
    val chunk = expr(s"slice(words, chunk_idx * $ChunkStride + 1, $ChunkSize)")
    Tables.documents(spark, dir)
      .withColumn("words", split(trim(col("text")), "\\s+"))
      .withColumn("n_words", size(col("words")))
      .withColumn("extra",
        when(col("n_words") > ChunkSize,
          floor((col("n_words") - lit(ChunkSize - ChunkStride + 1)) / lit(ChunkStride.toDouble))
            .cast("int"))
          .otherwise(0))
      .select(col("doc_id"), col("words"),
        explode(expr("sequence(0, extra)")).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        size(chunk).cast("long").as("n_tokens"),
        md5(concat_ws(" ", chunk).cast("binary")).as("chunk_hash"))
  }

  /** Decontamination n-gram width and the deterministic pseudo-benchmark
    * membership rule (doc_id % EvalMod == 0 stands in for an external eval
    * set — at production the eval side is a real benchmark table). */
  val DecontamN = 8
  val EvalMod = 97

  /** Benchmark DECONTAMINATION — the train/test-overlap removal step of a
    * pretraining pipeline: a corpus doc is contaminated iff it shares at
    * least one word-`DecontamN`-gram with any eval-set doc. Both sides
    * n-gram through the one-pass codegen'd WordNgrams expression; the eval
    * gram set is tiny by nature (benchmarks are small) so it BROADCASTS and
    * the corpus side streams through a map-side hash join — no shuffle of
    * corpus grams. Per-doc output carries the evidence (distinct grams hit,
    * distinct eval docs hit), not just the flag. */
  def tcDecontaminate(spark: SparkSession, dir: String): DataFrame =
    decontaminateOf(Tables.documentsFanned(spark, dir))

  /** [[tcDecontaminate]] over a given documents relation. */
  private def decontaminateOf(docs: DataFrame): DataFrame = {
    def grams(df: org.apache.spark.sql.DataFrame) = df.select(col("doc_id"),
      explode(graft.expr.functions.word_ngrams(col("text"), lit(DecontamN))).as("g"))
    val evalG = grams(docs.filter(col("doc_id") % EvalMod === 0))
      .withColumnRenamed("doc_id", "eval_id")
    val corpusG = grams(docs.filter(col("doc_id") % EvalMod =!= 0))
    val hits = corpusG.join(broadcast(evalG), Seq("g"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("g")).as("n_hit_grams"),
        countDistinct(col("eval_id")).as("n_eval_docs"))
    // hits holds only contaminated docs — rare by construction — so the
    // report join is a broadcast, keeping the whole query shuffle-free on
    // the corpus side except the hit aggregation itself
    docs.filter(col("doc_id") % EvalMod =!= 0).select(col("doc_id"))
      .join(broadcast(hits), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hit_grams"), lit(0L)).as("n_hit_grams"),
        coalesce(col("n_eval_docs"), lit(0L)).as("n_eval_docs"),
        (coalesce(col("n_hit_grams"), lit(0L)) > 0).as("contaminated"))
  }

  /** Per-language training-token budget of the MIXED corpus — the planning
    * aggregate a curation run ends with: join the mix decision with per-doc
    * token counts, keep sampled docs, and aggregate docs/tokens per language
    * plus each language's share of the total budget. One map-side-combinable
    * groupBy(lang) — the only shuffle — over two pure projections. */
  def tcMixBudget(spark: SparkSession, dir: String): DataFrame = {
    val tokens = taTokenCount(spark, dir).select(col("doc_id"), col("bpeish_tokens"))
    val sampled = tcSampleMix(spark, dir).filter(col("sampled"))
      .select(col("doc_id"), col("lang"))
    val perLang = sampled.join(tokens, Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("bpeish_tokens")).as("n_tokens"))
    val total = perLang.agg(sum(col("n_tokens")).as("total_tokens"))
    perLang.crossJoin(broadcast(total))
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("total_tokens"), 6).as("token_share"))
  }

  // ------------------------------------------------------------------- PII

  /** Detection regexes — identical RE2/Java-regex subset on both engines. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"
  val IpRe = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** PII-laced text: the corpus is PII-free word soup, so deterministic
    * synthetic contact strings derived from doc_id are appended (mod-cycled
    * so docs carry 0–3 PII spans) — the operator under test is the
    * detect/redact pass, and the oracle replays the same synthesis. */
  private def piiText: Column = concat(col("text"),
    when(col("doc_id") % 3 === 0,
      concat(lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail-"), (col("doc_id") % 7).cast("string"), lit(".example.com")))
      .otherwise(""),
    when(col("doc_id") % 4 === 1,
      concat(lit(" call +1-555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
      .otherwise(""),
    when(col("doc_id") % 5 === 2,
      concat(lit(" host 10."), (col("doc_id") % 256).cast("string"),
        lit("."), ((col("doc_id") * 7) % 256).cast("string"),
        lit("."), ((col("doc_id") * 13) % 256).cast("string")))
      .otherwise(""))

  /** PII detection + redaction — the scrub step a pretraining pipeline runs
    * before anything ships: count emails/phones/IPv4s by regex and mask them
    * with typed placeholders. Pure projection (codegen'd regexp kernels), no
    * shuffle at any scale; the redacted-text md5 pins the exact masked
    * output, span-for-span. */
  def taPii(spark: SparkSession, dir: String): DataFrame =
    Tables.documentsFanned(spark, dir)
      .withColumn("pii", piiText)
      .select(col("doc_id"),
        size(regexp_extract_all(col("pii"), lit(EmailRe), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all(col("pii"), lit(PhoneRe), lit(0))).cast("long").as("n_phones"),
        size(regexp_extract_all(col("pii"), lit(IpRe), lit(0))).cast("long").as("n_ips"),
        md5(regexp_replace(regexp_replace(regexp_replace(col("pii"),
          lit(EmailRe), lit("<EMAIL>")),
          lit(PhoneRe), lit("<PHONE>")),
          lit(IpRe), lit("<IP>")).cast("binary")).as("redacted_hash"))
      .withColumn("has_pii", col("n_emails") + col("n_phones") + col("n_ips") > 0)

  // ------------------------------------------------- sequence packing scan

  val PackBlock = 100 // docs per scan block (at scale: one block per file/split)
  val SeqLen = 64     // tokens per packed training sequence

  /** Sequence PACKING offsets — concatenate the corpus in doc_id order and
    * cut fixed-`SeqLen` training sequences: each doc gets its global token
    * start offset and the sequence ids it lands in. The global running sum
    * is a DISTRIBUTED TWO-LEVEL SCAN, not a single-partition window: a
    * block-local cumsum (shuffle keyed by block), then a prefix over the
    * ~|docs|/`PackBlock` block TOTALS (the only serial window, block-count
    * rows — at 100 TB blocks map to files/splits so this stays thousands of
    * rows, driver-trivial), broadcast back. A naive `Window.orderBy(doc_id)`
    * with no partition key would funnel the corpus through ONE task. */
  def tcPackOffsets(spark: SparkSession, dir: String): DataFrame =
    packScanOf(Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens")))
      .withColumn("n_seqs", col("last_seq") - col("first_seq") + 1)
      .withColumn("crosses_boundary", col("last_seq") > col("first_seq"))

  /** The two-level distributed scan of [[tcPackOffsets]] over any
    * `(doc_id, n_tokens)` input — shared with the composed curation run,
    * which packs only its FINAL survivors. Blocks may be sparse (a filtered
    * corpus keeps original ids); the prefix over block totals is unaffected. */
  private def packScanOf(docTokens: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = docTokens.withColumn("blk", expr(s"doc_id div $PackBlock"))
    val wLocal = Window.partitionBy(col("blk")).orderBy(col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = docs.withColumn("local_cum", sum(col("n_tokens")).over(wLocal))
    val wBlk = Window.orderBy(col("blk").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefixes = docs.groupBy(col("blk")).agg(sum(col("n_tokens")).as("blk_tot"))
      .withColumn("blk_prefix", coalesce(sum(col("blk_tot")).over(wBlk), lit(0L)))
      .select(col("blk"), col("blk_prefix"))
    local.join(broadcast(prefixes), Seq("blk"))
      .withColumn("start_off", col("blk_prefix") + col("local_cum") - col("n_tokens"))
      .withColumn("first_seq", floor(col("start_off") / SeqLen))
      .withColumn("last_seq", floor((col("start_off") + col("n_tokens") - 1) / SeqLen))
      .select(col("doc_id"), col("n_tokens"), col("start_off"),
        col("first_seq"), col("last_seq"))
  }

  /** LM-PERPLEXITY QUALITY SCORING (the CCNet/Gopher filter class): a
    * corpus bigram model with add-one smoothing scores every document by
    * its summed token-transition log-probability — low scores flag
    * boilerplate/garbled text for the cleaning chain. All dataflow:
    * unigram/bigram counts are ordinary groupBys (map-side partial), a doc
    * scores through one equi-join per table, and the vocab size is the
    * only singleton broadcast. Cross-engine exactness: each transition's
    * `ln((c2+1)/(c1+V))` is quantized to a BIGINT at 1e6, so per-doc sums
    * are order-independent integer sums; the integer average is spelled
    * `-((-sum) div n)` on BOTH sides because Spark `div` truncates toward
    * zero while DuckDB `//` floors — they only agree on positives, and
    * log-probs are negative. */
  def taBigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsFanned(spark, dir)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("ws"))
    val toks = docs.select(explode(col("ws")).as("w1"))
    val uni = toks.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val vocab = toks.agg(countDistinct(col("w1")).as("v"))
    val pw = docs.filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(ws) - 2), i -> named_struct('w1', ws[i], 'w2', ws[i + 1]))"))
        .as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val bi = pw.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    pw.join(bi, Seq("w1", "w2")).join(uni, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("q", expr(
        "CAST(round(ln((CAST(c2 AS DOUBLE) + 1.0) / (CAST(c1 AS DOUBLE) + v)) * 1000000.0) AS BIGINT)"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("q")).as("sum_lp_q6"))
      .withColumn("avg_lp_q6", expr("-((-sum_lp_q6) div n_pairs)"))
  }

  val queries: Map[String, Relational.Q] = Map(
    "ta_bigram_logprob" -> (taBigramLogprob _),
    "ta_lang_id" -> (taLangId _),
    "ta_pii" -> (taPii _),
    "tc_pack_offsets" -> (tcPackOffsets _),
    "ta_quality_score" -> (taQualityScore _),
    "ta_token_count" -> (taTokenCount _),
    "ta_fingerprint" -> (taFingerprint _),
    "ta_repetition" -> (taRepetition _),
    "tc_clean_corpus" -> (tcCleanCorpus _),
    "tc_corpus_neardup" -> (tcCorpusNeardup _),
    "tc_sample_mix" -> (tcSampleMix _),
    "tc_stratified_sample" -> (tcStratifiedSample _),
    "tc_mix_budget" -> (tcMixBudget _),
    "tc_decontaminate" -> (tcDecontaminate _),
    "tc_corpus_e2e" -> (tcCorpusE2e _),
    "tc_datacard" -> (tcDatacard _),
    "tc_chunk" -> (tcChunk _))

  private def markerSql(lang: String): String =
    markers(lang).map(w => s"'$w'").mkString("[", ", ", "]")

  /** The [[tcChunk]] dataflow as DuckDB CTE text ending in
    * `ch(doc_id, chunk_idx, n_tokens, chunk_hash)` — shared by the tc_chunk
    * oracle and [[CorpusOps]]' span-dedup replay. */
  private[ops] def chunkCtesSql: String = {
    val lo = s"chunk_idx * $ChunkStride + 1"
    val hi = s"chunk_idx * $ChunkStride + $ChunkSize"
    s"""w AS (
       |  SELECT doc_id, string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS words FROM documents),
       |b AS (
       |  SELECT doc_id, words,
       |    CASE WHEN len(words) > $ChunkSize
       |      THEN CAST(floor((len(words) - ${ChunkSize - ChunkStride + 1}) / $ChunkStride.0) AS INT)
       |      ELSE 0 END AS extra
       |  FROM w),
       |c AS (SELECT doc_id, words, unnest(generate_series(0, extra)) AS chunk_idx FROM b),
       |ch AS (
       |  SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       |    CAST(len(words[$lo : $hi]) AS BIGINT) AS n_tokens,
       |    md5(array_to_string(words[$lo : $hi], ' ')) AS chunk_hash
       |  FROM c)""".stripMargin
  }

  val oracles: Map[String, String] = {
    val langs = markers.keys.toSeq.sorted
    val scoreCols = langs.map(l =>
      s"len(list_filter(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+'), w -> list_contains(${markerSql(l)}, w))) AS score_$l")
      .mkString(",\n        ")
    // argmax with lexicographic tie-break: pick first lang of the max score
    val caseArg = langs.map(l =>
      s"WHEN score_$l = best THEN '$l'").mkString(" ")
    // the cleaning-chain CTEs, shared by tc_clean_corpus and the composed
    // tc_corpus_neardup (which runs near-dup removal over its survivors)
    val cleanCte =
      s"""sig AS (
         |  SELECT doc_id,
         |    len(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS n_words,
         |    length(trim(text)) AS n_chars_actual,
         |    len(list_filter(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+'),
         |        w -> list_contains(['the', 'a', 'of', 'and'], w))) AS n_stop,
         |    md5(text) AS exact_fp,
         |    $scoreCols
         |  FROM documents),
         |q AS (
         |  SELECT *,
         |    CAST(round(least(
         |      (CASE WHEN n_words >= 10 THEN 0.4 ELSE n_words * 0.04 END)
         |      + (CASE WHEN round((n_chars_actual - (n_words - 1)) * 1.0 / n_words, 6)
         |              BETWEEN 3.0 AND 8.0 THEN 0.3 ELSE 0.0 END)
         |      + (CASE WHEN round(n_stop * 1.0 / n_words, 6)
         |              BETWEEN 0.05 AND 0.5 THEN 0.3 ELSE 0.0 END),
         |      1.0), 6) AS DOUBLE) AS quality_score,
         |    greatest(${langs.map(l => s"score_$l").mkString(", ")}) AS best,
         |    row_number() OVER (PARTITION BY exact_fp ORDER BY doc_id ASC) AS dup_rank
         |  FROM sig),
         |decided AS (
         |  SELECT *,
         |    CASE WHEN best > 0 THEN (CASE $caseArg END) ELSE 'und' END AS predicted_lang
         |  FROM q),
         |reasons AS MATERIALIZED (
         |  SELECT *,
         |    CASE WHEN dup_rank > 1 THEN 'exact_dup'
         |         WHEN n_words < 25 THEN 'too_short'
         |         WHEN n_words > 90 THEN 'too_long'
         |         WHEN quality_score < 0.7 THEN 'low_quality'
         |         WHEN predicted_lang = 'und' THEN 'unknown_lang'
         |         ELSE '' END AS drop_reason
         |  FROM decided)""".stripMargin
    // the near-dup CTE chain shared by tc_corpus_neardup and tc_corpus_e2e;
    // sh self-joins, so it MATERIALIZEs (DuckDB 1.0 inlines CTEs by default,
    // and an inlined self-joined CTE evaluates its whole lineage twice)
    val ndCtes =
      s"""surv AS (
         |  SELECT d.doc_id, d.lang, d.source, d.text
         |  FROM documents d JOIN reasons r USING (doc_id)
         |  WHERE r.drop_reason = ''),
         |sh AS MATERIALIZED (
         |  SELECT doc_id, lang, source,
         |    list_distinct(list_transform(
         |      range(len(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) - 2),
         |      i -> concat_ws(' ',
         |        string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')[i + 1],
         |        string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')[i + 2],
         |        string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')[i + 3]))) AS grams
         |  FROM surv),
         |nd AS MATERIALIZED (
         |  SELECT DISTINCT b.doc_id
         |  FROM sh a JOIN sh b
         |    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.grams, b.grams)) * 1.0
         |      / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.2)""".stripMargin
    // the full first-match drop-ladder verdict (clean -> near-dup -> eval
    // holdout -> decontaminate -> mix), shared by tc_corpus_e2e and
    // tc_datacard so the two reports replay ONE attribution
    val verdCtes = {
      val rateSql = mixRates.map { case (l, r) => s"WHEN d.lang = '$l' THEN $r" }
        .mkString("CASE ", " ", " ELSE 0 END")
      val coinSql =
        """(ascii(substring(md5(CAST(r.doc_id AS VARCHAR)), 1, 1)) * 256
          |      + ascii(substring(md5(CAST(r.doc_id AS VARCHAR)), 2, 1))) % 100""".stripMargin
      s"""$ndCtes,
         |w8 AS (
         |  SELECT doc_id, string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS words
         |  FROM documents),
         |g8 AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    range(len(words) - ${DecontamN - 1}),
         |    i -> concat_ws(' ', ${(1 to DecontamN).map(k => s"words[i + $k]").mkString(", ")})))) AS g
         |  FROM w8),
         |cont AS MATERIALIZED (
         |  SELECT DISTINCT co.doc_id
         |  FROM (SELECT doc_id, g FROM g8 WHERE doc_id % $EvalMod != 0) co
         |  JOIN (SELECT g FROM g8 WHERE doc_id % $EvalMod = 0) ev USING (g)),
         |verd AS MATERIALIZED (
         |  SELECT r.doc_id,
         |    CASE WHEN r.drop_reason <> '' THEN r.drop_reason
         |         WHEN nd.doc_id IS NOT NULL THEN 'near_dup'
         |         WHEN r.doc_id % $EvalMod = 0 THEN 'eval_holdout'
         |         WHEN ct.doc_id IS NOT NULL THEN 'contaminated'
         |         WHEN NOT ($coinSql < ($rateSql)) THEN 'mix_sampled_out'
         |         ELSE '' END AS drop_stage
         |  FROM reasons r
         |  JOIN documents d ON d.doc_id = r.doc_id
         |  LEFT JOIN nd ON nd.doc_id = r.doc_id
         |  LEFT JOIN cont ct ON ct.doc_id = r.doc_id)""".stripMargin
    }
    Map(
      "ta_bigram_logprob" ->
        """WITH docs AS MATERIALIZED (
          |  SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS ws
          |  FROM documents),
          |toks AS MATERIALIZED (SELECT unnest(ws) AS w1 FROM docs),
          |uni AS MATERIALIZED (SELECT w1, count(*) AS c1 FROM toks GROUP BY w1),
          |voc AS MATERIALIZED (SELECT count(DISTINCT w1) AS v FROM toks),
          |pw AS MATERIALIZED (
          |  SELECT doc_id,
          |    unnest(ws[1:len(ws) - 1]) AS w1, unnest(ws[2:len(ws)]) AS w2
          |  FROM docs WHERE len(ws) >= 2),
          |bi AS MATERIALIZED (SELECT w1, w2, count(*) AS c2 FROM pw GROUP BY w1, w2),
          |q AS MATERIALIZED (
          |  SELECT doc_id,
          |    CAST(round(ln((CAST(c2 AS DOUBLE) + 1.0) / (CAST(c1 AS DOUBLE) + v))
          |      * 1000000.0) AS BIGINT) AS q
          |  FROM pw JOIN bi USING (w1, w2) JOIN uni USING (w1) CROSS JOIN voc)
          |SELECT doc_id, count(*) AS n_pairs,
          |  CAST(sum(q) AS BIGINT) AS sum_lp_q6,
          |  -((-CAST(sum(q) AS BIGINT)) // count(*)) AS avg_lp_q6
          |FROM q GROUP BY doc_id""".stripMargin,
      "ta_lang_id" ->
        s"""SELECT doc_id, ${langs.map(l => s"score_$l").mkString(", ")},
           |  CASE WHEN best > 0 THEN (CASE $caseArg END) ELSE 'und' END AS predicted_lang,
           |  lang AS labeled_lang
           |FROM (SELECT *, greatest(${langs.map(l => s"score_$l").mkString(", ")}) AS best
           |      FROM (SELECT doc_id, lang,
           |        $scoreCols
           |      FROM documents))""".stripMargin,
      "ta_pii" ->
        s"""WITH p AS (
           |  SELECT doc_id, text
           |    || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id
           |        || '@mail-' || (doc_id % 7) || '.example.com' ELSE '' END
           |    || CASE WHEN doc_id % 4 = 1 THEN ' call +1-555-'
           |        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
           |    || CASE WHEN doc_id % 5 = 2 THEN ' host 10.' || (doc_id % 256)
           |        || '.' || ((doc_id * 7) % 256) || '.' || ((doc_id * 13) % 256) ELSE '' END
           |    AS pii
           |  FROM documents)
           |SELECT doc_id,
           |  CAST(len(regexp_extract_all(pii, '$EmailRe')) AS BIGINT) AS n_emails,
           |  CAST(len(regexp_extract_all(pii, '$PhoneRe')) AS BIGINT) AS n_phones,
           |  CAST(len(regexp_extract_all(pii, '$IpRe')) AS BIGINT) AS n_ips,
           |  md5(regexp_replace(regexp_replace(regexp_replace(pii,
           |    '$EmailRe', '<EMAIL>', 'g'),
           |    '$PhoneRe', '<PHONE>', 'g'),
           |    '$IpRe', '<IP>', 'g')) AS redacted_hash,
           |  (len(regexp_extract_all(pii, '$EmailRe'))
           |    + len(regexp_extract_all(pii, '$PhoneRe'))
           |    + len(regexp_extract_all(pii, '$IpRe'))) > 0 AS has_pii
           |FROM p""".stripMargin,
      "tc_pack_offsets" ->
        s"""WITH t AS (
           |  SELECT doc_id, len(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS n_tokens
           |  FROM documents),
           |c AS (
           |  SELECT doc_id, n_tokens,
           |    sum(n_tokens) OVER (ORDER BY doc_id ASC
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           |  FROM t)
           |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           |  CAST(cum - n_tokens AS BIGINT) AS start_off,
           |  CAST(floor((cum - n_tokens) / $SeqLen.0) AS BIGINT) AS first_seq,
           |  CAST(floor((cum - 1) / $SeqLen.0) AS BIGINT) AS last_seq,
           |  CAST(floor((cum - 1) / $SeqLen.0) - floor((cum - n_tokens) / $SeqLen.0) + 1
           |    AS BIGINT) AS n_seqs,
           |  floor((cum - 1) / $SeqLen.0) > floor((cum - n_tokens) / $SeqLen.0)
           |    AS crosses_boundary
           |FROM c""".stripMargin,
      "ta_quality_score" ->
        """SELECT doc_id, n_words, n_chars_actual,
          |  CAST(round((n_chars_actual - (n_words - 1)) * 1.0 / n_words, 6) AS DOUBLE) AS mean_word_len,
          |  CAST(round(n_stop * 1.0 / n_words, 6) AS DOUBLE) AS stopword_ratio,
          |  CAST(round(least(
          |    (CASE WHEN n_words >= 10 THEN 0.4 ELSE n_words * 0.04 END)
          |    + (CASE WHEN round((n_chars_actual - (n_words - 1)) * 1.0 / n_words, 6) BETWEEN 3.0 AND 8.0 THEN 0.3 ELSE 0.0 END)
          |    + (CASE WHEN round(n_stop * 1.0 / n_words, 6) BETWEEN 0.05 AND 0.5 THEN 0.3 ELSE 0.0 END),
          |    1.0), 6) AS DOUBLE) AS quality_score
          |FROM (SELECT doc_id,
          |        len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS n_words,
          |        length(trim(text)) AS n_chars_actual,
          |        len(list_filter(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+'),
          |            w -> list_contains(['the', 'a', 'of', 'and'], w))) AS n_stop
          |      FROM documents)""".stripMargin,
      "ta_token_count" ->
        """SELECT doc_id,
          |  len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS ws_tokens,
          |  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS bpeish_tokens,
          |  CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_tokens_len4
          |FROM documents""".stripMargin,
      "ta_fingerprint" ->
        """SELECT doc_id, md5(text) AS exact_fp,
          |  md5(array_to_string(list_sort(list_distinct(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+'))), ' ')) AS bag_fp
          |FROM documents""".stripMargin,
      "ta_repetition" ->
        """WITH w AS (
          |  SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS words FROM documents),
          |wc AS (
          |  SELECT doc_id, max(c) AS top_word_count
          |  FROM (SELECT doc_id, count(*) AS c
          |        FROM (SELECT doc_id, unnest(words) AS wd FROM w) GROUP BY doc_id, wd)
          |  GROUP BY doc_id),
          |base AS (
          |  SELECT doc_id, len(words) AS n_words,
          |    len(list_distinct(words)) AS n_distinct_words,
          |    list_transform(range(len(words) - 1),
          |      i -> words[i + 1] || ' ' || words[i + 2]) AS bigrams
          |  FROM w)
          |SELECT b.doc_id,
          |  CAST(b.n_words AS BIGINT) AS n_words,
          |  CAST(b.n_distinct_words AS BIGINT) AS n_distinct_words,
          |  CAST(wc.top_word_count AS BIGINT) AS top_word_count,
          |  CAST(len(b.bigrams) AS BIGINT) AS n_bigrams,
          |  CAST(len(list_distinct(b.bigrams)) AS BIGINT) AS n_distinct_bigrams,
          |  CAST(round(wc.top_word_count * 1.0 / b.n_words, 6) AS DOUBLE) AS top_word_frac,
          |  CAST(round(CASE WHEN len(b.bigrams) > 0
          |    THEN (len(b.bigrams) - len(list_distinct(b.bigrams))) * 1.0 / len(b.bigrams)
          |    ELSE 0.0 END, 6) AS DOUBLE) AS dup_bigram_frac,
          |  (wc.top_word_count * 10 > b.n_words
          |    OR (len(b.bigrams) - len(list_distinct(b.bigrams))) * 5 > len(b.bigrams) * 2)
          |    AS repetitive
          |FROM base b JOIN wc USING (doc_id)""".stripMargin,
      "tc_clean_corpus" ->
        s"""WITH $cleanCte
           |SELECT doc_id, drop_reason = '' AS keep, drop_reason,
           |  CAST(n_words AS BIGINT) AS n_words, quality_score, predicted_lang
           |FROM reasons""".stripMargin,
      // same shingle/pair SQL as dd_ngram_jaccard, restricted to survivors
      "tc_corpus_neardup" ->
        s"""WITH $cleanCte,
           |$ndCtes
           |SELECT r.doc_id,
           |  (r.drop_reason = '' AND nd.doc_id IS NULL) AS final_keep,
           |  CASE WHEN r.drop_reason <> '' THEN r.drop_reason
           |       WHEN nd.doc_id IS NOT NULL THEN 'near_dup'
           |       ELSE '' END AS drop_reason
           |FROM reasons r LEFT JOIN nd ON nd.doc_id = r.doc_id""".stripMargin,
      // the full curation run: clean -> near-dup -> eval holdout ->
      // decontaminate -> mix, then pack offsets over the FINAL corpus only
      "tc_corpus_e2e" ->
        s"""WITH $cleanCte,
           |$verdCtes,
           |packed AS (
           |  SELECT v.doc_id,
           |    len(string_split_regex(trim(d.text), '[ \\t\\n\\x0B\\f\\r]+')) AS n_tokens,
           |    sum(len(string_split_regex(trim(d.text), '[ \\t\\n\\x0B\\f\\r]+')))
           |      OVER (ORDER BY v.doc_id ASC
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           |  FROM verd v JOIN documents d ON d.doc_id = v.doc_id
           |  WHERE v.drop_stage = '')
           |SELECT v.doc_id, v.drop_stage = '' AS final_keep, v.drop_stage,
           |  CAST(p.n_tokens AS BIGINT) AS n_tokens,
           |  CAST(p.cum - p.n_tokens AS BIGINT) AS start_off,
           |  CAST(floor((p.cum - p.n_tokens) / $SeqLen.0) AS BIGINT) AS first_seq,
           |  CAST(floor((p.cum - 1) / $SeqLen.0) AS BIGINT) AS last_seq
           |FROM verd v LEFT JOIN packed p ON p.doc_id = v.doc_id""".stripMargin,
      // the data card: per (lang, stage) doc + token mass under the SAME
      // verdict chain — tokens counted for dropped docs too (what each
      // gate cost, not just what survived)
      "tc_datacard" ->
        s"""WITH $cleanCte,
           |$verdCtes
           |SELECT d.lang,
           |  CASE WHEN v.drop_stage = '' THEN 'kept' ELSE v.drop_stage END AS stage,
           |  count(*) AS n_docs,
           |  CAST(sum(len(string_split_regex(trim(d.text), '[ \\t\\n\\x0B\\f\\r]+'))) AS BIGINT) AS n_tokens
           |FROM verd v JOIN documents d ON d.doc_id = v.doc_id
           |GROUP BY 1, 2""".stripMargin,
      "tc_chunk" -> s"WITH $chunkCtesSql\nSELECT * FROM ch",
      "tc_decontaminate" ->
        s"""WITH w AS (
           |  SELECT doc_id, string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS words FROM documents),
           |g8 AS (
           |  SELECT doc_id, unnest(list_distinct(list_transform(
           |    range(len(words) - ${DecontamN - 1}),
           |    i -> concat_ws(' ', ${(1 to DecontamN).map(k => s"words[i + $k]").mkString(", ")})))) AS g
           |  FROM w),
           |ev AS (SELECT doc_id AS eval_id, g FROM g8 WHERE doc_id % $EvalMod = 0),
           |co AS (SELECT doc_id, g FROM g8 WHERE doc_id % $EvalMod != 0),
           |hits AS (
           |  SELECT doc_id, count(DISTINCT g) AS n_hit_grams,
           |    count(DISTINCT eval_id) AS n_eval_docs
           |  FROM co JOIN ev USING (g) GROUP BY doc_id)
           |SELECT d.doc_id,
           |  CAST(coalesce(h.n_hit_grams, 0) AS BIGINT) AS n_hit_grams,
           |  CAST(coalesce(h.n_eval_docs, 0) AS BIGINT) AS n_eval_docs,
           |  coalesce(h.n_hit_grams, 0) > 0 AS contaminated
           |FROM documents d LEFT JOIN hits h USING (doc_id)
           |WHERE d.doc_id % $EvalMod != 0""".stripMargin,
      "tc_mix_budget" -> {
        val rateSql = mixRates.map { case (l, r) => s"WHEN lang = '$l' THEN $r" }
          .mkString("CASE ", " ", " ELSE 0 END")
        s"""WITH sampled AS (
           |  SELECT doc_id, lang FROM documents
           |  WHERE (ascii(substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) * 256
           |    + ascii(substring(md5(CAST(doc_id AS VARCHAR)), 2, 1))) % 100 < ($rateSql)),
           |tok AS (
           |  SELECT doc_id,
           |    len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS bpeish_tokens
           |  FROM documents),
           |per_lang AS (
           |  SELECT lang, count(*) AS n_docs, sum(bpeish_tokens) AS n_tokens
           |  FROM sampled JOIN tok USING (doc_id) GROUP BY lang)
           |SELECT lang, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
           |  CAST(round(n_tokens * 1.0 / (SELECT sum(n_tokens) FROM per_lang), 6) AS DOUBLE)
           |    AS token_share
           |FROM per_lang""".stripMargin
      },
      "tc_stratified_sample" ->
        s"""WITH keyed AS (
           |  SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS sample_key
           |  FROM documents)
           |SELECT doc_id, lang,
           |  CAST(row_number() OVER (PARTITION BY lang
           |    ORDER BY sample_key ASC, doc_id ASC) AS BIGINT) AS rk
           |FROM keyed
           |QUALIFY rk <= $StratumK""".stripMargin,
      "tc_sample_mix" -> {
        val rateSql = mixRates.map { case (l, r) => s"WHEN lang = '$l' THEN $r" }
          .mkString("CASE ", " ", " ELSE 0 END")
        s"""SELECT doc_id, lang,
           |  CAST((ascii(substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) * 256
           |    + ascii(substring(md5(CAST(doc_id AS VARCHAR)), 2, 1))) % 100 AS BIGINT) AS coin,
           |  CAST(($rateSql) AS BIGINT) AS rate,
           |  (ascii(substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) * 256
           |    + ascii(substring(md5(CAST(doc_id AS VARCHAR)), 2, 1))) % 100
           |    < ($rateSql) AS sampled
           |FROM documents""".stripMargin
      })
  }
}
