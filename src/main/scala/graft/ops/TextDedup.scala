package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Document deduplication suite for training-data pipelines (driver mandate:
  * exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding near-dup — each a
  * first-class operator over the `documents`/`embeddings` tables).
  *
  * Scale design: NOTHING here is O(N²) on the full corpus. Every pairwise
  * operator first generates candidate pairs through an equi-join key —
  * content hash (exact), LSH band bucket (MinHash), band bucket (SimHash),
  * (lang, source) block (n-gram), label block (embedding) — so the shuffle is
  * keyed and bounded; the quadratic step runs only within buckets. At 100 TB
  * the block/band keys are exactly the partition keys you'd bucket by.
  */
object TextDedup {

  // ------------------------------------------------------------- exact (md5)

  /** Exact dedup by content hash (hash-groupBy; the standard first pass of
    * every training-data dedup): per-hash canonical survivor + corpus summary.
    * The testdata has no byte-identical documents, so the per-group output is
    * summarized (n_docs vs distinct hashes) to keep the oracle check strong
    * and non-empty. */
  def ddExact(spark: SparkSession, dir: String): DataFrame = {
    val hashed = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("content_hash"))
    hashed.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("content_hash")).as("n_distinct"),
      (count(lit(1)) - countDistinct(col("content_hash"))).as("n_dup_docs"))
  }

  // ------------------------------------------------- char-set Jaccard pairs

  /** Character-set Jaccard near-dup pairs within (lang, source) blocks —
    * semantics chosen to equal DuckDB's jaccard() so the oracle can verify
    * the whole pair pipeline end-to-end.
    *
    * Scale: the character SET of an ASCII document fits in two 64-bit masks
    * (codepoints 0–63 / 64–127), so each doc is reduced to two longs ONCE and
    * the O(pairs) inner loop is pure popcount on integers — no array
    * intersects shuffling through the pair join. ~25× faster than the
    * array_intersect formulation at sf0.1. */
  def ddJaccardChars(spark: SparkSession, dir: String): DataFrame = {
    val docs = docsFanned(spark, dir)
      .withColumn("masks", graft.expr.functions.ascii_masks(col("text")))
      .select(col("doc_id"), col("lang"), col("source"),
        col("masks").getItem(0).as("m_lo"), col("masks").getItem(1).as("m_hi"))
    val a = docs.select(col("doc_id").as("id_a"), col("lang"), col("source"),
      col("m_lo").as("a_lo"), col("m_hi").as("a_hi"))
    val b = docs.select(col("doc_id").as("id_b"), col("lang"), col("source"),
      col("m_lo").as("b_lo"), col("m_hi").as("b_hi"))
    val inter = expr("bit_count(a_lo & b_lo) + bit_count(a_hi & b_hi)")
    val union_ = expr("bit_count(a_lo | b_lo) + bit_count(a_hi | b_hi)")
    a.join(b, Seq("lang", "source"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("jac", inter.cast("double") / union_.cast("double"))
      .filter(col("jac") >= 0.999999) // identical char sets
      .select(col("lang"), col("source"), col("id_a"), col("id_b"), round(col("jac"), 6).as("jac"))
  }

  // ------------------------------------------------------ word-3-gram Jaccard

  /** Distinct shingle ROWS per doc via the codegen'd WordShingles expression
    * — one pass per document, no shuffle (replaces both the interpreted-HOF
    * array form and the posexplode + window-lead form). */
  private[ops] def shingleRowsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"), col("source"),
      explode(graft.expr.functions.word_shingles(col("text"))).as("s"))

  /** Documents fanned out to session width before any expensive per-doc
    * chain (WordShingles/MinHashSigs/SimHash explosions): the single-row-
    * group scan otherwise runs the whole codegen'd text pass as ONE task
    * (opt guide §2.5 — unsplittable input, repartition right after read). */
  private def docsFanned(spark: SparkSession, dir: String): DataFrame =
    Tables.fanOut(Tables.documents(spark, dir), col("doc_id"))

  private def shingleRows(spark: SparkSession, dir: String): DataFrame =
    // the shingle relation's consumers (per-doc sizes + both join sides)
    // each re-evaluate it; staging the FANNED DOCS (lazy localCheckpoint,
    // ~600 KB) lets every re-evaluation skip the scan + fan-out shuffle and
    // re-run only the parallel explosion — the full explosion itself stays
    // unstaged (measured slower to materialize, see ngramJaccardPairsOf).
    // SIZE-GATED (r22): at 100 TB the documents relation is the corpus —
    // over spark.graft.stage.maxBytes the staging is skipped and each
    // consumer recomputes from the (fault-tolerant) scan instead of pinning
    // corpus-sized blocks on executors with truncated lineage.
    shingleRowsOf(Tables.stageLocal(docsFanned(spark, dir)))

  /** ASYMMETRIC CONTAINMENT near-dup — the quote/subset detector Jaccard
    * misses: a short doc fully embedded in a long one has low Jaccard
    * (union is dominated by the long side) but containment
    * |A∩B| / min(|A|,|B|) ≈ 1. Same sparse shingle equi-join as
    * [[ddNgramJaccard]] but UNBLOCKED: quotes cross language/source
    * boundaries by nature, so the shuffle key is the bare shingle (at
    * corpus scale the dfcap trim composes unchanged — hot boilerplate
    * shingles leave the vocabulary before the join). The ratio is
    * quantized to parts-per-million by integer floor division — positive
    * operands, so Spark `div` ≡ DuckDB `//` — and gated at 0.8. */
  def ddContainment(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.stageLocal(docsFanned(spark, dir))
    val sh = shingleRowsOf(docs)
    // |A| per doc as a PROJECTION (WordShingles returns the distinct set,
    // so its size == the shingle-row count) — replaces a groupBy over the
    // FULL explosion: one whole explosion and its exchange removed, the
    // same move ddMinhashLsh's nSh made in r21. Docs in candidate pairs
    // share ≥1 shingle, so the n_sh=0 rows this adds never join.
    val n = docs.select(col("doc_id"),
      size(graft.expr.functions.word_shingles(col("text"))).cast("long").as("n_sh"))
    val a = sh.select(col("doc_id").as("id_a"), col("s"))
    val b = sh.select(col("doc_id").as("id_b"), col("s"))
    a.join(b, Seq("s"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_inter"))
      .join(n.select(col("doc_id").as("id_a"), col("n_sh").as("n_a")), Seq("id_a"))
      .join(n.select(col("doc_id").as("id_b"), col("n_sh").as("n_b")), Seq("id_b"))
      .withColumn("c_q6", expr("(n_inter * 1000000) div least(n_a, n_b)"))
      .filter(col("c_q6") >= 800000)
      .select(col("id_a"), col("id_b"), col("n_inter"), col("n_a"), col("n_b"), col("c_q6"))
  }

  /** Word-3-gram (shingle) Jaccard pairs within (lang, source) blocks with
    * threshold — the classical near-dup measure MinHash approximates.
    *
    * Pairs come from an EQUI-JOIN on the shingle itself: |A∩B| is a count of
    * matching shingle rows, |A∪B| = n_a + n_b − |A∩B|. Pairs sharing no
    * shingle (jac = 0 < threshold) never materialize — unlike the former
    * all-pairs array_intersect, which evaluated every same-block pair. At
    * 100 TB the shuffle key is (lang, source, shingle): sparse, skew-safe
    * after the distinct, and linear in matching rows. */
  def ddNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardPairsOf(docsFanned(spark, dir))

  /** The pair dataflow of [[ddNgramJaccard]] over an arbitrary DOCUMENT
    * relation (doc_id, lang, source, text) — reused by the composed
    * corpus-construction pipeline, which runs it over the cleaning chain's
    * survivors only. `word_shingles` is evaluated ONCE per doc: the
    * (doc_id, lang, source, shingles) projection is staged (size-gated, one
    * row per doc), and both the explosion and the per-doc sizes derive
    * from it — the sizes as `size(shingles)` instead of a groupBy over the
    * full explosion. The explosion itself feeds both join sides once, via
    * exchange reuse; it stays unstaged — materializing it measured slower
    * than recomputing the codegen'd explode, r21. Docs in candidate pairs
    * share ≥1 shingle, so the n_sh=0 rows the projection adds for
    * shingle-less docs never join. */
  private[ops] def ngramJaccardPairsOf(docs: DataFrame): DataFrame = {
    val shingles = Tables.stageLocal(docs.select(col("doc_id"), col("lang"), col("source"),
      graft.expr.functions.word_shingles(col("text")).as("shingles")))
    val sh = shingles.select(col("doc_id"), col("lang"), col("source"),
      explode(col("shingles")).as("s"))
    val n = shingles.select(col("doc_id"), size(col("shingles")).cast("long").as("n_sh"))
    val a = sh.select(col("doc_id").as("id_a"), col("lang"), col("source"), col("s"))
    val b = sh.select(col("doc_id").as("id_b"), col("lang"), col("source"), col("s"))
    val inter = a.join(b, Seq("lang", "source", "s"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("lang"), col("source"), col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(n.select(col("doc_id").as("id_a"), col("n_sh").as("n_a")), Seq("id_a"))
      .join(n.select(col("doc_id").as("id_b"), col("n_sh").as("n_b")), Seq("id_b"))
      .withColumn("jac", col("n_inter").cast("double") /
        (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
      .filter(col("jac") >= 0.2)
      .select(col("lang"), col("source"), col("id_a"), col("id_b"), round(col("jac"), 6).as("jac"))
  }

  val DfCap = 10

  /** Document-frequency-capped variant of [[ddNgramJaccard]] — the standard
    * skew defense at corpus scale: shingles appearing in more than `DfCap`
    * documents are removed from the VOCABULARY (both pair counting and
    * per-doc sizes), so no single hot shingle can explode the equi-join.
    * Jaccard is then exact over the reduced vocabulary. */
  def ddNgramJaccardDfcap(spark: SparkSession, dir: String): DataFrame =
    dfcapPairsOf(shingleRows(spark, dir))

  /** 10× near-dup replication of a documents relation — the volume-stress
    * fixture: each doc becomes 10 replicas (doc_id·10+r) whose text differs
    * by ONE appended replica-unique token, so replicas are ~0.96-Jaccard
    * near-dups of each other and every shingle's document frequency is
    * multiplied by 10. Any shingle shared by ≥2 ORIGINAL docs therefore
    * exceeds [[DfCap]] and must be trimmed — the skew path provably engages
    * (DedupVolumeSpec pins this). */
  private[ops] def replicateNearDup(docs: DataFrame, k: Int = 10): DataFrame =
    docs.withColumn("r", explode(sequence(lit(0), lit(k - 1))))
      .select((col("doc_id") * k + col("r")).as("doc_id"), col("lang"), col("source"),
        concat(col("text"), lit(" zz"), col("r"), lit("q")).as("text"))

  /** [[ddNgramJaccardDfcap]] under 10× near-dup volume: hot shingles (orig
    * df ≥ 2 → df ≥ 20) are trimmed by the cap, so the equi-join stays
    * bounded while the 45 replica pairs per original doc all survive with
    * their exact reduced-vocabulary Jaccard. */
  def ddNgramJaccardDfcapVol(spark: SparkSession, dir: String): DataFrame =
    dfcapPairsOf(shingleRowsOf(replicateNearDup(
      Tables.stageLocal(docsFanned(spark, dir)))))

  /** The DF-cap pair dataflow over an arbitrary shingle-row relation. */
  private[ops] def dfcapPairsOf(sh: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // SINGLE-PASS df annotation (r22; opt guide §2.4 — remove a shuffle +
    // a whole explosion): shingle rows are distinct per doc, so a count
    // over the shingle partition IS the document frequency. The former
    // two-branch shape (groupBy(s) df aggregate, then a semi join back)
    // re-ran the shingle EXPLOSION — the most expensive projection here —
    // on both branches; one window over one exchange on `s` computes df
    // and filters in the same pass. Skew note: a hot shingle's rows all
    // land in one window group, but those are exactly the rows the cap
    // drops, and the old semi join shuffled them on the same key anyway
    // (the rare-vocabulary side is corpus-sized at 100 TB — never
    // broadcastable).
    // materialize the capped relation ONCE: three consumers (a-side, b-side,
    // per-doc sizes) would otherwise each re-run the explosion + window.
    // At cluster scale this is the same "stage the reduced relation" step —
    // kept is the post-cap slice, orders of magnitude smaller than the
    // exploded input
    val kept = sh
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("s"))))
      .filter(col("df") <= DfCap)
      .drop("df")
      .localCheckpoint()
    val n = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val a = kept.select(col("doc_id").as("id_a"), col("lang"), col("source"), col("s"))
    val b = kept.select(col("doc_id").as("id_b"), col("lang"), col("source"), col("s"))
    val inter = a.join(b, Seq("lang", "source", "s"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("lang"), col("source"), col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(n.select(col("doc_id").as("id_a"), col("n_sh").as("n_a")), Seq("id_a"))
      .join(n.select(col("doc_id").as("id_b"), col("n_sh").as("n_b")), Seq("id_b"))
      .withColumn("jac", col("n_inter").cast("double") /
        (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
      .filter(col("jac") >= 0.2)
      .select(col("lang"), col("source"), col("id_a"), col("id_b"), round(col("jac"), 6).as("jac"))
  }

  // ------------------------------------------------------------ MinHash + LSH

  val NumHashes = 32
  val Bands = 8 // 8 bands x 4 rows

  /** The (doc_id, band_key) banded relation of a document set: ONE codegen'd
    * MinHash signature pass per document + band concat — the persistable LSH
    * index rows. Stateless projection, so it runs unchanged on a STREAMING
    * document source ([[graft.streaming.Streams.incrementalNeardupStream]]).
    * Documents with no shingles produce no band rows (trivially new). */
  private[graft] def minhashBandedOf(docs: DataFrame): DataFrame = {
    val sigs = docs
      .select(col("doc_id"), graft.expr.functions.minhash_sigs(col("text")).as("sigs"))
      .filter(size(col("sigs")) > 0)
    val rowsPerBand = NumHashes / Bands
    val bandKeys = (0 until Bands).map { bnd =>
      concat_ws(":", lit(bnd) +:
        (0 until rowsPerBand).map(r => col("sigs").getItem(bnd * rowsPerBand + r)): _*)
    }
    sigs.select(col("doc_id"), explode(array(bandKeys: _*)).as("band_key"))
  }

  /** INCREMENTAL near-dup gate — "is this document a near-dup of anything
    * already ingested?", the admission check a continuously-fed corpus runs
    * on every new crawl snapshot (ingestion order = doc_id here): a document
    * duplicates iff it shares ≥ 1 LSH band with ANY earlier document, and
    * `dup_of` reports the smallest such predecessor. Batch form of the
    * streaming stateful dedup ([[graft.streaming.Streams
    * .incrementalNeardupStream]] — StreamingSpec pins row parity between the
    * two): at 100 TB the band state is exactly the persisted LSH index the
    * banded join probes, so the incremental and full-rebuild paths share
    * their index artifact. Candidate generation is the banded equi-join;
    * the per-doc reduce is a map-side-combinable min. */
  def ddIncrementalNeardup(spark: SparkSession, dir: String): DataFrame = {
    // staged: the self-join's two sides would otherwise each re-run the
    // MinHashSigs pass (same reasoning as ddMinhashLsh's banded staging);
    // size-gated — the banded relation is |docs|×Bands rows at 100 TB
    val banded = Tables.stageLocal(minhashBandedOf(docsFanned(spark, dir)))
    val owners = banded
      .join(banded.select(col("doc_id").as("id_a"), col("band_key")), Seq("band_key"))
      .filter(col("id_a") < col("doc_id"))
      .groupBy(col("doc_id")).agg(min(col("id_a")).as("dup_of"))
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(owners, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of"), col("dup_of").isNull.as("is_new"))
  }

  /** MinHash+LSH near-dup pairs: shingle → 32-wide signature → 8 LSH bands →
    * band-bucket equi-join → exact shingle-Jaccard verification ≥ 0.2.
    * Candidate generation is the banded join (shuffle on band hash), never a
    * full cross product.
    *
    * The signature is computed by EXPLODING shingles and running 32 codegen'd
    * min-aggregates with map-side partial aggregation — higher-order-function
    * lambdas (transform/aggregate) are interpreted in Spark and measured ~10×
    * slower on this path. */
  def ddMinhashLsh(spark: SparkSession, dir: String): DataFrame = {
    // shingles as ROWS (codegen'd WordShingles) feed the exact verification;
    // the 32-wide signature comes from ONE codegen'd pass per document
    // (MinHashSigs) — no signature shuffle at all. Round 1 aggregated 32
    // mins over exploded shingle hashes (a full-corpus shuffle), and the
    // array/HOF form before that spent ~9 s interpreted at sf0.1.
    val shingles = shingleRows(spark, dir).select(col("doc_id"), col("s"))

    // |A| per doc as a PROJECTION (WordShingles returns the distinct set, so
    // its size == the shingle-row count) — replaces a full-corpus
    // explode + groupBy shuffle; docs with zero shingles get n_sh = 0
    // instead of no row, indistinguishable downstream because only docs in
    // candidate pairs (≥ 1 shared shingle) are ever looked up.
    // STAGED (lazy localCheckpoint, r21): the relation is |docs|-sized but
    // its two consumers (n_a / n_b lookups) would each re-run the full
    // WordShingles pass — the single most expensive projection here — and
    // their differing aliases defeat exchange reuse (guide §2.4).
    val nSh = Tables.stageLocal(docsFanned(spark, dir)
      .select(col("doc_id"),
        size(graft.expr.functions.word_shingles(col("text"))).cast("long").as("n_sh")))

    // slim banded relation: only (doc_id, band_key) flows through the
    // self-join. STAGED for the same reason: both join sides would each
    // re-run the codegen'd 32-hash MinHashSigs pass over every document;
    // the checkpointed form computes signatures once and the self-join
    // reads |docs|×Bands tiny rows twice. Size-gated like every other
    // corpus-proportional staging (r22).
    val banded = Tables.stageLocal(minhashBandedOf(docsFanned(spark, dir)))
    val a = banded.select(col("doc_id").as("id_a"), col("band_key"))
    val b = banded.select(col("doc_id").as("id_b"), col("band_key"))
    val pairIds = a.join(b, Seq("band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")

    // exact verification without arrays: |A∩B| counted by joining the two
    // sides' shingle rows on equality (shingles first semi-joined down to
    // candidate docs), |A∪B| = n_a + n_b − |A∩B|
    val candDocsA = pairIds.select(col("id_a").as("doc_id")).distinct()
    val candDocsB = pairIds.select(col("id_b").as("doc_id")).distinct()
    val shA = shingles.join(candDocsA, Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("id_a"), col("s"))
    val shB = shingles.join(candDocsB, Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("id_b"), col("s"))
    val inter = pairIds
      .join(shA, Seq("id_a"))
      .join(shB, Seq("id_b", "s"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    val nA = nSh.select(col("doc_id").as("id_a"), col("n_sh").as("n_a"))
    val nB = nSh.select(col("doc_id").as("id_b"), col("n_sh").as("n_b"))

    pairIds
      .join(inter, Seq("id_a", "id_b"), "left")
      .join(nA, Seq("id_a")).join(nB, Seq("id_b"))
      .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
      .withColumn("jac", col("n_inter").cast("double") /
        (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
      .filter(col("jac") >= 0.2)
      .select(col("id_a"), col("id_b"), round(col("jac"), 6).as("jac"))
  }

  // ----------------------------------------------------------------- SimHash

  /** SimHash near-dup candidates: 4×16-bit band buckets → hamming ≤ 3 verify.
    * The 62-bit hash is ONE codegen'd expression pass per document
    * ([[graft.expr.VecAlgo.simHash62]], two oracle-replayable polynomial
    * token hashes) — DuckDB replays the full simhash → band → hamming
    * pipeline, so this query carries a complete hash oracle (formerly
    * xxhash64-based and rows-only). */
  def ddSimhash(spark: SparkSession, dir: String): DataFrame = {
    val docs = docsFanned(spark, dir)
      .select(col("doc_id"), graft.expr.functions.simhash62(col("text")).as("sim"))
      .filter(col("sim").isNotNull)
    val banded = docs.select(col("doc_id"), col("sim"),
      explode(expr("transform(sequence(0, 3), b -> concat_ws(':', b, shiftright(sim, b * 16) & 65535))"))
        .as("band_key"))
    val a = banded.select(col("doc_id").as("id_a"), col("sim").as("sim_a"), col("band_key"))
    val b = banded.select(col("doc_id").as("id_b"), col("sim").as("sim_b"), col("band_key"))
    a.join(b, Seq("band_key"))
      .filter(col("id_a") < col("id_b"))
      // hamming BEFORE the distinct: the filter commutes with dedup and
      // shrinks the dropDuplicates shuffle to only the near-dup pairs
      .withColumn("hamming", expr("bit_count(sim_a ^ sim_b)"))
      .filter(col("hamming") <= 3)
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
  }

  // ------------------------------------------------- embedding cosine near-dup

  /** Cosine similarity of two float-array columns — codegen'd custom
    * Expression (double accumulation; bit-identical to the interpreted
    * zip_with/aggregate HOF chain it replaces, which cost ~12 s alone on
    * this query at sf0.1). */
  def cosineSim(a: Column, b: Column): Column =
    graft.expr.functions.cosine_similarity(a, b)

  /** Embedding near-dup pairs: block by label (at scale: an IVF/cluster id),
    * exact cosine within block, threshold. */
  def ddEmbedCosine(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val a = e.select(col("vec_id").as("id_a"), col("label"), col("embedding").as("va"))
    val b = e.select(col("vec_id").as("id_b"), col("label"), col("embedding").as("vb"))
    a.join(b, Seq("label"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", cosineSim(col("va"), col("vb")))
      .filter(col("cos") >= 0.35)
      .select(col("label"), col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
  }

  /** Embedding near-dup pairs blocked by the TRAINED k-means cluster — the
    * production form of [[ddEmbedCosine]]'s label block (labels don't exist
    * on a raw 100 TB corpus; cluster ids do, and we train them ourselves via
    * [[Similarity.kmeansCentroids]]). Each vector is blocked into its top-2
    * clusters (multi-probe blocking: a near-dup pair straddling one cluster
    * boundary still shares the runner-up cluster), pairs form per cluster via
    * a SLIM (vec_id, cell_id) self-join — the 64-float vectors are joined
    * back only for surviving candidate pairs — then exact cosine + threshold.
    * At 100 TB the cluster id is the shuffle/partition key you'd persist, and
    * candidate pairs are bounded per cluster instead of all-pairs — with
    * `NumCells` grown with the corpus (k ≈ N / target cluster size, the
    * standard SemDeDup-style setting) so per-cluster membership, and hence
    * the within-cluster quadratic step, stays constant-bounded as N grows. */
  def ddEmbedKmeans(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val cent = Similarity.kmeansCentroidArrays(e)
    val blocks = e.select(col("vec_id"),
        explode(graft.expr.functions.nearest_cells(col("embedding"), cent, 2)).as("nc"))
      .select(col("vec_id"), col("nc.cell_id").as("cell_id"))
    val pairs = blocks.select(col("cell_id"), col("vec_id").as("id_a"))
      .join(blocks.select(col("cell_id"), col("vec_id").as("id_b")), Seq("cell_id"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").dropDuplicates("id_a", "id_b")
    pairs
      .join(e.select(col("vec_id").as("id_a"), col("embedding").as("va")), Seq("id_a"))
      .join(e.select(col("vec_id").as("id_b"), col("embedding").as("vb")), Seq("id_b"))
      .withColumn("cos", cosineSim(col("va"), col("vb")))
      .filter(col("cos") >= 0.35)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
  }

  /** Canonical undirected pair set: (min, max) orientation, self-loops
    * dropped, distinct — the representation both star rewrites consume and
    * emit. */
  private[ops] def canonPairs(e: DataFrame): DataFrame = e
    .select(least(col("src"), col("dst")).as("src"),
      greatest(col("src"), col("dst")).as("dst"))
    .filter(col("src") =!= col("dst"))
    .distinct()

  /** Large-star rewrite: every node connects its LARGER neighbors to the min
    * of its closed neighborhood — emit (v, m(u)) for v ∈ N(u), v > u with
    * m(u) = min(N(u) ∪ {u}). The min-gather is a WINDOW over the edge mass
    * (not groupBy + self-join): ordered ascending, the running min at every
    * row IS the partition min, so one exchange+sort replaces the old
    * groupBy exchange + join and — critically — the input is consumed ONCE,
    * which is what lets [[minLabelConverge]] run a whole round as a single
    * plan with no intra-round staging. Output is canonical-oriented but NOT
    * deduplicated (one row per input edge, ≤ |E| rows) — the min-gather
    * downstream is duplicate-blind and [[smallStar]] ends with the distinct,
    * saving a shuffle per round. */
  private[ops] def largeStar(edges: DataFrame): DataFrame = {
    val und = edges.union(edges.select(col("dst").as("src"), col("src").as("dst")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("dst"))
    und
      .withColumn("m", least(col("src"), min(col("dst")).over(w)))
      .filter(col("dst") > col("src"))
      .select(least(col("dst"), col("m")).as("src"),
        greatest(col("dst"), col("m")).as("dst"))
      .filter(col("src") =!= col("dst"))
  }

  /** Small-star rewrite: every node connects its SMALLER neighbors (and
    * itself) to the min of that set — with the canonical (src<dst) pair
    * orientation, u's smaller neighbors are exactly the src values of its
    * dst-side rows. Same single-pass window gather as [[largeStar]]; the
    * one (u, min) row the old byU union contributed is emitted by the
    * group's first row (row_number = 1 over the same window spec). */
  private[ops] def smallStar(edges: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("dst")).orderBy(col("src"))
    val withMn = edges
      .withColumn("mn", min(col("src")).over(w))
      .withColumn("rn", row_number().over(w))
    canonPairs(withMn
      .select(explode(when(col("rn") === 1,
        array(struct(col("src").as("s"), col("mn").as("d")),
          struct(col("dst").as("s"), col("mn").as("d"))))
        .otherwise(array(struct(col("src").as("s"), col("mn").as("d"))))).as("p"))
      .select(col("p.s").as("src"), col("p.d").as("dst")))
  }

  /** Plan-evidence helper (tools.Probe `cc_kernel`): the one-round
    * contraction kernel over an arbitrary pair set, exposed for explain
    * capture — the loop's per-round plan never appears in a declared query's
    * explain (rounds run eagerly behind LogicalRDD checkpoints). */
  private[graft] def roundKernel(spark: SparkSession): DataFrame =
    smallStar(largeStar(canonPairs(plantedClusterEdges(spark).toDF("src", "dst"))))

  /** Min-label convergence over an undirected pair graph: every node ends
    * with comp = min node id reachable from it, and size = the node count of
    * its component, in labels (id, comp, size) — a unique result independent
    * of iteration order, which is what makes it oracle-checkable against
    * DuckDB's recursive closure. The loop is the alternating
    * large-star/small-star EDGE CONTRACTION of Kiveris et al. ("Connected
    * Components in MapReduce and Beyond", SoCC'14): each round rewrites the
    * edge set one step closer to per-component stars centered on the
    * component min, so the round count tracks ~log(diameter) instead of
    * diameter — static-edge label propagation (the round-8 shape) is
    * Θ(diameter) rounds on a chain no matter how labels are compressed,
    * which is exactly what the planted 59-diameter chains in
    * [[plantedClusterEdges]] expose (DedupClusterVolSpec pins the bound: 7
    * rounds where propagation needs ~52). Per-round work stays O(edges):
    * two edge-mass window gathers, no quadratic star expansion. The driver
    * loop reads only the edge-set fingerprint aggregate, never data. */
  private[ops] def minLabelConverge(pairs: DataFrame): (DataFrame, Int) = {
    // ONE localCheckpoint per round (the round output): the iterate is
    // consumed multiple times per round, so without lineage truncation the
    // logical plan doubles per round — exponential analysis cost long
    // before any data cost. Same executor-local staging trade as
    // dfcapPairsOf: at real cluster scale this is a reliable checkpoint or
    // staged table.
    val caller = pairs.sparkSession
    // convergence signal: an order-independent (count, hash-xor) fingerprint
    // of the edge set — ONE cheap aggregate per round instead of a
    // symmetric-difference join (xor, not sum: overflow-free under ANSI,
    // and the set is distinct so cancellation needs a hash collision). A
    // fingerprint match is then CONFIRMED by the exact set difference once,
    // so a collision degrades to an extra round, never a wrong result.
    def fingerprint(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        expr("bit_xor(xxhash64(src, dst))")).first()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    // Setup is ONE action: the canonical pairs are staged lazily, and the
    // first fingerprint (caller-side) both materializes the staging and
    // yields the edge count that sizes the loop partitions.
    val staged = canonPairs(pairs.toDF("src", "dst")).localCheckpoint(false)
    var fp = fingerprint(staged)
    // The whole loop runs on a tuned CHILD session ([[LoopSession]]: AQE
    // off, shuffle width from the edge count — the session's 32 partitions
    // made this loop 5× slower than 2 on a 60k-edge graph; confs never
    // leave the child, advisor r11/r12).
    val loop = LoopSession.forCaller(caller)
    loop.synchronized {
    LoopSession.tune(caller, loop, fp._1)
    // re-root via the InternalRow RDD (GraftSessionBridge): RDDs are
    // context-scoped, so the checkpointed edge set moves sessions without
    // the public-Row conversion pass the old createDataFrame(staged.rdd)
    // path paid in each direction. Its input is already cut, so it needs no
    // second checkpoint; the node set is derived lazily from it and read
    // once, by the label plan after the loop.
    var edges = org.apache.spark.sql.GraftSessionBridge.reRoot(loop, staged)
    val nodes = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id"))).distinct()
    var rounds = 0
    var converged = fp._1 == 0L
    while (!converged) {
        rounds += 1
        val tR = System.nanoTime()
        // one plan, one lazy checkpoint, one action per round: the window
        // form of the star rewrites consumes each intermediate exactly once,
        // so the round no longer needs the ls staging checkpoint (r22; the
        // old groupBy+join form consumed ls twice and exchange reuse did
        // not fire across the aliased consumers — re-tested, 0.5 → 1.0 s
        // per round without the staging). The fingerprint aggregate below
        // is the round's single materializing action.
        val next = smallStar(largeStar(edges)).localCheckpoint(false)
        val nfp = fingerprint(next)
        if (nfp == fp) {
          converged = next.except(edges).union(edges.except(next)).isEmpty
        }
        fp = nfp
        edges = next
        if (sys.env.contains("GRAFT_CC_DEBUG"))
          println(f"[cc] round $rounds: ${(System.nanoTime() - tR) / 1e9}%.2f s, edges=${fp._1}")
    }
    // terminal state = stars centered on each component's min: a node's
    // label is its min neighbor (leaves → center), or itself (the center);
    // its component's size is a window count over the label. Built inside
    // the tuned scope — it is the same tiny-iterate shape as the rounds, so
    // the whole label plan runs as one job.
    val und = edges.union(edges.select(col("dst").as("src"), col("src").as("dst")))
    val labels = nodes
      .join(und.groupBy(col("src")).agg(min(col("dst")).as("mn")),
        nodes("id") === col("src"), "left")
      .select(col("id"), least(col("id"), coalesce(col("mn"), col("id"))).as("comp"))
      .withColumn("size", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("comp"))))
    // re-root the result in the CALLER's session — Datasets from different
    // sessions must not mix in downstream joins. The label plan is PLANNED
    // under the child's tuned confs (reRoot takes its physical RDD) but only
    // materialized ONCE, by the caller-side localCheckpoint — the old
    // child-side checkpoint + Row-convert + caller checkpoint paid one
    // redundant full pass plus duplicate block storage (advisor r12).
    (org.apache.spark.sql.GraftSessionBridge.reRoot(caller, labels).localCheckpoint(),
      rounds)
    }
  }

  /** Converged labels → (doc_id, canonical_id, cluster_size). */
  private[ops] def canonicalClusters(pairs: DataFrame): DataFrame =
    minLabelConverge(pairs)._1.select(col("id").as("doc_id"),
      col("comp").as("canonical_id"), col("size").as("cluster_size"))

  /** Duplicate-CLUSTER canonicalization: connected components over the
    * near-dup pair graph (word-3-gram Jaccard ≥ 0.2 edges), so every member
    * of a transitive duplicate group maps to one canonical doc — the step
    * that fixes the pairwise rule's blind spot (A~B, B~C, A≁C). Runs on the
    * shared [[minLabelConverge]] star-contraction loop. */
  def ddDupClusters(spark: SparkSession, dir: String): DataFrame =
    canonicalClusters(ddNgramJaccard(spark, dir).select(col("id_a"), col("id_b")))

  // ----------------------------------------- dup clusters at planted volume

  val ClustVolChains = 500
  val ClustVolChainLen = 60
  val ClustVolStars = 300
  val ClustVolStarSize = 100
  /** First node id of the star region (chains occupy [0, ClustVolStarBase)). */
  val ClustVolStarBase: Int = ClustVolChains * ClustVolChainLen

  /** Planted connected-component topology at volume (60k nodes, 59.2k edges),
    * pure integer arithmetic on both engines so the DuckDB oracle regenerates
    * the identical graph from range():
    *  - 500 SCRAMBLED chains of 60 nodes: chain position p ↔ id offset
    *    (7p+3) mod 60, so the component min (offset 0) sits 51 hops from one
    *    end — plain hop propagation would need ~52 rounds, exercising the
    *    pointer-jump's log-round claim rather than an id-sorted easy case;
    *  - 300 stars of 100 nodes (hub + 99 leaves) — the high-fan-in shape
    *    where per-round pair mass must stay O(edges), not O(star²). */
  private[ops] def plantedClusterEdges(spark: SparkSession): DataFrame = {
    val cl = ClustVolChainLen
    val chain = spark.range(ClustVolChains.toLong * (cl - 1)).select(
      expr(s"(id DIV ${cl - 1}) * $cl + ((id % ${cl - 1}) * 7 + 3) % $cl").as("id_a"),
      expr(s"(id DIV ${cl - 1}) * $cl + ((id % ${cl - 1}) * 7 + 10) % $cl").as("id_b"))
    val ss = ClustVolStarSize
    val star = spark.range(ClustVolStars.toLong * (ss - 1)).select(
      expr(s"$ClustVolStarBase + (id DIV ${ss - 1}) * $ss").as("id_a"),
      expr(s"$ClustVolStarBase + (id DIV ${ss - 1}) * $ss + 1 + id % ${ss - 1}").as("id_b"))
    chain.union(star)
  }

  /** [[ddDupClusters]]' iterative dataflow at VOLUME (VERDICT r9 item 1):
    * 60k planted docs through the same star-contraction convergence, hash-checked
    * against the recursive-CTE closure. The planted max diameter (59) is the
    * part fixture-scale never exercised — the round count and per-round
    * join mass under long chains and wide stars. */
  def ddDupClustersVol(spark: SparkSession, dir: String): DataFrame =
    canonicalClusters(plantedClusterEdges(spark))

  val BoilerBlock = 8  // words per block ("line" analog of this corpus)
  val BoilerMinDocs = 2 // blocks in >= this many docs are boilerplate

  /** Cross-document BOILERPLATE removal — the CCNet/Falcon line-dedup pass,
    * reshaped to this corpus's "lines" (non-overlapping `BoilerBlock`-word
    * blocks, since the word-soup documents carry no newlines): a block whose
    * hash appears in ≥ `BoilerMinDocs` DISTINCT documents is dropped from
    * every document, and each doc reports its kept-block count/words plus the
    * md5 of its reconstructed (block-order) text. Dataflow at 100 TB: explode
    * to blocks, ONE shuffle keyed by the block hash for the document
    * frequency, an anti-join back on the same key, and ONE groupBy(doc_id)
    * to reassemble — never any doc×doc pairing, and the block hash is the
    * sparse high-cardinality key you'd bucket by. */
  def ddBlockBoilerplate(spark: SparkSession, dir: String): DataFrame = {
    val base = docsFanned(spark, dir)
      .withColumn("words", split(trim(col("text")), "\\s+"))
      .withColumn("n_words", size(col("words")))
    val blocks = base
      .select(col("doc_id"), col("words"),
        explode(expr(s"sequence(0, cast(floor((n_words - 1) / $BoilerBlock.0) as int))")).as("bi"))
      .withColumn("barr", expr(s"slice(words, bi * $BoilerBlock + 1, $BoilerBlock)"))
      .select(col("doc_id"), col("bi"),
        size(col("barr")).cast("long").as("bw"),
        concat_ws(" ", col("barr")).as("btext"))
      .withColumn("bh", md5(col("btext").cast("binary")))
    val boiler = blocks.groupBy(col("bh"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= BoilerMinDocs)
      .select(col("bh"))
    val kept = blocks.join(boiler, Seq("bh"), "left_anti")
    val perDoc = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        sum(col("bw")).as("n_kept_words"),
        md5(concat_ws(" ",
          expr("transform(sort_array(collect_list(struct(bi, btext))), x -> x.btext)"))
          .cast("binary")).as("kept_hash"))
    base.select(col("doc_id"),
        (floor((col("n_words") - 1) / BoilerBlock) + 1).as("n_blocks"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_blocks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_blocks") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("n_kept_words"), lit(0L)).as("n_kept_words"),
        coalesce(col("kept_hash"), md5(lit("").cast("binary"))).as("kept_hash"))
  }

  val queries: Map[String, Relational.Q] = Map(
    "dd_block_boilerplate" -> (ddBlockBoilerplate _),
    "dd_exact" -> (ddExact _),
    "dd_dup_clusters" -> (ddDupClusters _),
    "dd_dup_clusters_vol" -> (ddDupClustersVol _),
    "dd_embed_kmeans" -> (ddEmbedKmeans _),
    "dd_jaccard_chars" -> (ddJaccardChars _),
    "dd_ngram_jaccard" -> (ddNgramJaccard _),
    "dd_containment" -> (ddContainment _),
    "dd_minhash_lsh" -> (ddMinhashLsh _),
    "dd_incremental_neardup" -> (ddIncrementalNeardup _),
    "dd_simhash" -> (ddSimhash _),
    "dd_embed_cosine" -> (ddEmbedCosine _),
    "dd_ngram_jaccard_dfcap" -> (ddNgramJaccardDfcap _),
    "dd_ngram_jaccard_dfcap_vol" -> (ddNgramJaccardDfcapVol _))

  /** DuckDB replay of [[graft.expr.TextAlgo.polyHash]] over a string column
    * `c` — the oracle-side half of the engine's replayable hash contract. */
  private def polyHashSql(c: String, base: Int): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(1, length($c)+1), i -> CAST(unicode($c[i]) AS BIGINT))),
       |      (acc,cp) -> (acc*$base+cp) % ${graft.expr.TextAlgo.PolyP})""".stripMargin

  /** Full replay of [[ddMinhashLsh]]: per-shingle poly-31 hash → 32
    * vectorized min-aggregates (the signature) → 8 band keys → band-bucket
    * self-join → exact shingle-Jaccard verification — the same dataflow the
    * Spark side runs, expressed over DuckDB lists. */
  /** The MinHash signature → LSH band replay as CTE text ending in
    * `banded(doc_id, band_key)` — shared by the pair oracle and the
    * incremental-gate oracle. */
  private def minhashBandedCtes: String = {
    val P = graft.expr.VecAlgo.MinHashP
    val mins = (0 until NumHashes).map { i =>
      s"min((${graft.expr.VecAlgo.mhA(i)}*h+${graft.expr.VecAlgo.mhB(i)})%$P) AS s$i"
    }.mkString(",\n    ")
    val rowsPerBand = NumHashes / Bands
    val bands = (0 until Bands).map { b =>
      val cols = (0 until rowsPerBand).map(r => s"s${b * rowsPerBand + r}").mkString(", ")
      s"concat_ws(':', $b, $cols)"
    }.mkString(",\n      ")
    s"""sh AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(
       |      range(len(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) - 2),
       |      i -> concat_ws(' ',
       |        string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')[i + 1],
       |        string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')[i + 2],
       |        string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')[i + 3]))) AS grams
       |  FROM documents),
       |gr AS (SELECT doc_id, unnest(grams) AS g FROM sh),
       |hr AS (SELECT doc_id, ${polyHashSql("g", 31)} AS h FROM gr),
       |sig AS (SELECT doc_id,
       |    $mins
       |  FROM hr GROUP BY doc_id),
       |banded AS (SELECT doc_id, unnest([
       |      $bands]) AS band_key FROM sig)""".stripMargin
  }

  private def incrementalNeardupSql: String =
    s"""WITH $minhashBandedCtes,
       |own AS (
       |  SELECT b.doc_id AS doc_id, min(a.doc_id) AS dup_of
       |  FROM banded b JOIN banded a USING (band_key)
       |  WHERE a.doc_id < b.doc_id
       |  GROUP BY b.doc_id)
       |SELECT d.doc_id, o.dup_of, o.dup_of IS NULL AS is_new
       |FROM documents d LEFT JOIN own o USING (doc_id)""".stripMargin

  private def minhashLshSql: String = {
    s"""WITH $minhashBandedCtes,
       |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM banded a JOIN banded b USING (band_key) WHERE a.doc_id < b.doc_id),
       |jac AS (
       |  SELECT id_a, id_b,
       |    len(list_intersect(x.grams, y.grams)) * 1.0
       |      / (len(x.grams) + len(y.grams) - len(list_intersect(x.grams, y.grams))) AS j
       |  FROM pairs JOIN sh x ON x.doc_id = id_a JOIN sh y ON y.doc_id = id_b)
       |SELECT id_a, id_b, CAST(round(j, 6) AS DOUBLE) AS jac FROM jac WHERE j >= 0.2""".stripMargin
  }

  /** Full replay of [[ddSimhash]]: per-token poly-31/poly-131 hashes → 62
    * per-bit vote aggregates → 4×16-bit band keys → band-bucket self-join →
    * hamming ≤ 3 (`bit_count(xor(...))`). */
  private def simhashSql: String = {
    val terms = ((0 until 31).map { j =>
      s"CASE WHEN sum(CASE WHEN (h1 >> $j) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN ${1L << j} ELSE 0 END"
    } ++ (31 until 62).map { j =>
      s"CASE WHEN sum(CASE WHEN (h2 >> ${j - 31}) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN ${1L << j} ELSE 0 END"
    }).mkString("\n    + ")
    s"""WITH w AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS wd FROM documents),
       |hr AS (SELECT doc_id,
       |    ${polyHashSql("wd", 31)} AS h1,
       |    ${polyHashSql("wd", 131)} AS h2
       |  FROM w),
       |sim AS (SELECT doc_id,
       |    $terms AS sim
       |  FROM hr GROUP BY doc_id),
       |banded AS (SELECT doc_id, sim, unnest(list_transform(range(4), b ->
       |    concat_ws(':', b, (sim >> (b*16)) & 65535))) AS band_key FROM sim),
       |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    min(bit_count(xor(a.sim, b.sim))) AS hamming
       |  FROM banded a JOIN banded b USING (band_key) WHERE a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming FROM pairs WHERE hamming <= 3""".stripMargin
  }

  /** Replays the deterministic k-means training (same unrolled-iteration SQL
    * as the sim_ivf_kmeans oracle), blocks by top-2 cluster, then scores the
    * distinct candidate pairs exactly like dd_embed_cosine's oracle. */
  private def embedKmeansSql: String =
    Similarity.kmeansPrefixSql +
      """blk AS (SELECT vec_id, cell_id FROM af WHERE crnk <= 2),
        |pairs AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM blk a JOIN blk b USING (cell_id) WHERE a.vec_id < b.vec_id)
        |SELECT id_a, id_b,
        |  CAST(round(list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
        |    CAST(y.embedding AS DOUBLE[])), 6) AS DOUBLE) AS cos
        |FROM pairs
        |JOIN embeddings x ON x.vec_id = id_a
        |JOIN embeddings y ON y.vec_id = id_b
        |WHERE list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
        |    CAST(y.embedding AS DOUBLE[])) >= 0.35""".stripMargin

  val oracles: Map[String, String] = Map(
    "dd_minhash_lsh" -> minhashLshSql,
    "dd_incremental_neardup" -> incrementalNeardupSql,
    "dd_simhash" -> simhashSql,
    "dd_block_boilerplate" ->
      s"""WITH w AS (
         |  SELECT doc_id, string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS words FROM documents),
         |b AS (
         |  SELECT doc_id, words,
         |    unnest(generate_series(0,
         |      CAST(floor((len(words) - 1) / $BoilerBlock.0) AS INT))) AS bi
         |  FROM w),
         |h AS (
         |  SELECT doc_id, bi,
         |    len(words[bi * $BoilerBlock + 1 : bi * $BoilerBlock + $BoilerBlock]) AS bw,
         |    array_to_string(words[bi * $BoilerBlock + 1 : bi * $BoilerBlock + $BoilerBlock], ' ') AS btext,
         |    md5(array_to_string(words[bi * $BoilerBlock + 1 : bi * $BoilerBlock + $BoilerBlock], ' ')) AS bh
         |  FROM b),
         |f AS (SELECT bh FROM h GROUP BY bh HAVING count(DISTINCT doc_id) >= $BoilerMinDocs),
         |kept AS (SELECT * FROM h WHERE bh NOT IN (SELECT bh FROM f)),
         |per AS (
         |  SELECT doc_id, count(*) AS n_kept, sum(bw) AS n_kept_words,
         |    md5(string_agg(btext, ' ' ORDER BY bi)) AS kept_hash
         |  FROM kept GROUP BY doc_id),
         |nb AS (
         |  SELECT doc_id, CAST(floor((len(words) - 1) / $BoilerBlock.0) AS BIGINT) + 1 AS n_blocks
         |  FROM w)
         |SELECT nb.doc_id, nb.n_blocks,
         |  CAST(coalesce(per.n_kept, 0) AS BIGINT) AS n_kept,
         |  CAST(nb.n_blocks - coalesce(per.n_kept, 0) AS BIGINT) AS n_removed,
         |  CAST(coalesce(per.n_kept_words, 0) AS BIGINT) AS n_kept_words,
         |  coalesce(per.kept_hash, md5('')) AS kept_hash
         |FROM nb LEFT JOIN per USING (doc_id)""".stripMargin,
    // closure over the same pair graph as dd_ngram_jaccard: reach = nodes
    // reachable through undirected edges, canonical = min reachable id
    "dd_dup_clusters" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, lang, source,
        |    list_distinct(list_transform(
        |      range(len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) - 2),
        |      i -> concat_ws(' ',
        |        string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')[i + 1],
        |        string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')[i + 2],
        |        string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')[i + 3]))) AS grams
        |  FROM documents),
        |pr AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b
        |    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.grams, b.grams)) * 1.0
        |      / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.2),
        |ed AS (SELECT id_a AS src, id_b AS dst FROM pr
        |       UNION ALL SELECT id_b, id_a FROM pr),
        |reach(id, r) AS (
        |  SELECT src, src FROM ed
        |  UNION
        |  SELECT e.dst, re.r FROM reach re JOIN ed e ON e.src = re.id),
        |comp AS (SELECT id, min(r) AS canonical_id FROM reach GROUP BY id),
        |sz AS (SELECT canonical_id, count(*) AS cluster_size
        |       FROM comp GROUP BY canonical_id)
        |SELECT c.id AS doc_id, c.canonical_id, s.cluster_size
        |FROM comp c JOIN sz s USING (canonical_id)""".stripMargin,
    "dd_embed_kmeans" -> embedKmeansSql,
    // the same closure semantics over the PLANTED volume graph: the edge
    // relations regenerate plantedClusterEdges' arithmetic from range()
    "dd_dup_clusters_vol" ->
      s"""WITH RECURSIVE
         |ch AS (SELECT (i // ${ClustVolChainLen - 1}) * $ClustVolChainLen
         |                + ((i % ${ClustVolChainLen - 1}) * 7 + 3) % $ClustVolChainLen AS src,
         |              (i // ${ClustVolChainLen - 1}) * $ClustVolChainLen
         |                + ((i % ${ClustVolChainLen - 1}) * 7 + 10) % $ClustVolChainLen AS dst
         |       FROM range(${ClustVolChains * (ClustVolChainLen - 1)}) t(i)),
         |sta AS (SELECT $ClustVolStarBase + (i // ${ClustVolStarSize - 1}) * $ClustVolStarSize AS src,
         |               $ClustVolStarBase + (i // ${ClustVolStarSize - 1}) * $ClustVolStarSize
         |                 + 1 + (i % ${ClustVolStarSize - 1}) AS dst
         |        FROM range(${ClustVolStars * (ClustVolStarSize - 1)}) t(i)),
         |pr AS (SELECT src, dst FROM ch UNION ALL SELECT src, dst FROM sta),
         |ed AS (SELECT src, dst FROM pr UNION ALL SELECT dst, src FROM pr),
         |reach(id, r) AS (
         |  SELECT src, src FROM ed
         |  UNION
         |  SELECT e.dst, re.r FROM reach re JOIN ed e ON e.src = re.id),
         |comp AS (SELECT id, min(r) AS canonical_id FROM reach GROUP BY id),
         |sz AS (SELECT canonical_id, count(*) AS cluster_size
         |       FROM comp GROUP BY canonical_id)
         |SELECT c.id AS doc_id, c.canonical_id, s.cluster_size
         |FROM comp c JOIN sz s USING (canonical_id)""".stripMargin,
    "dd_exact" ->
      """SELECT count(*) AS n_docs, count(DISTINCT md5(text)) AS n_distinct,
        |  count(*) - count(DISTINCT md5(text)) AS n_dup_docs
        |FROM documents""".stripMargin,
    "dd_jaccard_chars" ->
      """SELECT a.lang, a.source, a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(round(jaccard(a.text, b.text), 6) AS DOUBLE) AS jac
        |FROM documents a JOIN documents b
        |  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        |WHERE jaccard(a.text, b.text) >= 0.999999""".stripMargin,
    "dd_ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id, lang, source,
        |    list_distinct(list_transform(
        |      range(len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) - 2),
        |      i -> concat_ws(' ',
        |        string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')[i + 1],
        |        string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')[i + 2],
        |        string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')[i + 3]))) AS grams
        |  FROM documents)
        |SELECT a.lang, a.source, a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(round(len(list_intersect(a.grams, b.grams)) * 1.0
        |    / len(list_distinct(list_concat(a.grams, b.grams))), 6) AS DOUBLE) AS jac
        |FROM sh a JOIN sh b
        |  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.grams, b.grams)) * 1.0
        |    / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.2""".stripMargin,
    "dd_containment" ->
      """WITH sh AS MATERIALIZED (
        |  SELECT doc_id, lang, source,
        |    list_distinct(list_transform(
        |      range(len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) - 2),
        |      i -> concat_ws(' ',
        |        string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')[i + 1],
        |        string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')[i + 2],
        |        string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')[i + 3]))) AS grams
        |  FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.grams, b.grams)) AS BIGINT) AS n_inter,
        |  CAST(len(a.grams) AS BIGINT) AS n_a,
        |  CAST(len(b.grams) AS BIGINT) AS n_b,
        |  (CAST(len(list_intersect(a.grams, b.grams)) AS BIGINT) * 1000000)
        |    // least(len(a.grams), len(b.grams)) AS c_q6
        |FROM sh a JOIN sh b
        |  ON a.doc_id < b.doc_id AND len(list_intersect(a.grams, b.grams)) > 0
        |WHERE (CAST(len(list_intersect(a.grams, b.grams)) AS BIGINT) * 1000000)
        |    // least(len(a.grams), len(b.grams)) >= 800000""".stripMargin,
    "dd_embed_cosine" ->
      """SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
        |  CAST(round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |    CAST(b.embedding AS DOUBLE[])), 6) AS DOUBLE) AS cos
        |FROM embeddings a JOIN embeddings b
        |  ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |    CAST(b.embedding AS DOUBLE[])) >= 0.35""".stripMargin,
    "dd_ngram_jaccard_dfcap" -> dfcapOracle("documents"),
    "dd_ngram_jaccard_dfcap_vol" -> dfcapOracle(
      // DuckDB replay of replicateNearDup: 10 replicas per doc, one
      // replica-unique appended token each
      """(SELECT doc_id * 10 + r AS doc_id, lang, source,
        |   concat(text, ' zz', CAST(r AS VARCHAR), 'q') AS text
        | FROM documents CROSS JOIN (SELECT unnest(range(10)) AS r) reps)""".stripMargin))

  /** The dd_ngram_jaccard_dfcap oracle over a parameterized documents
    * relation — shared by the base and the 10×-volume variant. */
  private def dfcapOracle(docsSrc: String): String =
      s"""WITH sh AS (
         |  SELECT doc_id, lang, source,
         |    list_distinct(list_transform(
         |      range(len(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) - 2),
         |      i -> concat_ws(' ',
         |        string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')[i + 1],
         |        string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')[i + 2],
         |        string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')[i + 3]))) AS grams
         |  FROM $docsSrc),
         |rows_ AS (SELECT doc_id, lang, source, unnest(grams) AS s FROM sh),
         |rare AS (SELECT s FROM rows_ GROUP BY s HAVING count(*) <= $DfCap),
         |kept AS (SELECT * FROM rows_ WHERE s IN (SELECT s FROM rare)),
         |n AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY doc_id),
         |inter AS (
         |  SELECT a.lang, a.source, a.doc_id AS id_a, b.doc_id AS id_b,
         |    count(*) AS n_inter
         |  FROM kept a JOIN kept b
         |    ON a.lang = b.lang AND a.source = b.source AND a.s = b.s
         |   AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3, 4)
         |SELECT lang, source, id_a, id_b,
         |  CAST(round(n_inter * 1.0 / (na.n_sh + nb.n_sh - n_inter), 6) AS DOUBLE) AS jac
         |FROM inter
         |JOIN n na ON na.doc_id = id_a
         |JOIN n nb ON nb.doc_id = id_b
         |WHERE n_inter * 1.0 / (na.n_sh + nb.n_sh - n_inter) >= 0.2""".stripMargin
}
