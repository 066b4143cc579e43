package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Approximate-nearest-neighbor search over the embedding column (driver
  * mandate): brute-force cosine top-k as the exactness baseline, and a
  * random-hyperplane LSH-bucketed variant as the scale path.
  *
  * Scale design: brute-force is queries × corpus — fine only when the query
  * side is small and broadcast (it is here). The LSH variant buckets the
  * corpus ONCE by hyperplane sign bits (this is the shuffle/bucketing key
  * you'd persist at 100 TB) and probes only matching buckets, turning ANN
  * into an equi-join. Recall vs brute force is asserted in SimilaritySpec.
  */
object Similarity {

  /** Cosine over float arrays va/vb — codegen'd custom Expression (the
    * zip_with/aggregate HOF chain it replaces is interpreted in Spark and
    * was the shared root cause of all round-1 perf-weak queries; results are
    * bit-identical). Column names are positional contracts of this module's
    * internal selects. */
  private def cosine: Column =
    graft.expr.functions.cosine_similarity(col("va"), col("vb"))

  val K = 5
  val NumQueries = 5

  /** Brute-force exact top-k: small query set broadcast against the corpus,
    * per-query window for the top-k. Deterministic tie-break on rounded
    * similarity then vec_id. */
  def simBruteforceTopk(spark: SparkSession, dir: String): DataFrame =
    bruteforceTopkN(spark, dir, NumQueries)

  /** Query-count-parameterized form: the recall specs evaluate over a much
    * larger query set than the declared 5 (recall@5 over 5 queries is 25
    * pairs — one flipped neighbor moves it by 4 points, pure noise). */
  private[graft] def bruteforceTopkN(spark: SparkSession, dir: String, nq: Int): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val queries = broadcast(e.filter(col("vec_id") < nq)
      .select(col("vec_id").as("q_id"), col("embedding").as("va")))
    val corpus = e.select(col("vec_id").as("n_id"), col("embedding").as("vb"))
    val scored = queries.join(corpus, col("q_id") =!= col("n_id"))
      .withColumn("cos_r", round(cosine, 6))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_r").desc, col("n_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= K)
      .select(col("q_id"), col("n_id"), col("cos_r").as("cos"), col("rnk").cast("long").as("rnk"))
  }

  // --------------------------------------------------- LSH (random hyperplane)

  val NumTables = 4
  val NumPlanes = 6 // per table

  /** LSH ANN, multi-table + multi-probe: 4 independent hyperplane tables of 6
    * bits; candidates = union over tables of (own bucket + all 1-bit-flipped
    * buckets). At 100 TB: the corpus is signed/bucketed ONCE per table (the
    * persistable bucketing key), and each query probes ~7 buckets per table —
    * an equi-join on (table, sig), never a scan of the corpus per query.
    * Recall vs brute force is asserted in TrainingOpsSpec.
    *
    * All 4 signatures come from ONE codegen'd pass over each vector
    * ([[graft.expr.VecAlgo.lshSignatures]]) — round 1 re-scanned the corpus
    * once per table through ~384-term inlined sign-bit projections, which was
    * the bulk of its 66 s runtime; the hyperplane formula (and thus every
    * bucket id) is unchanged. */
  def simLshTopk(spark: SparkSession, dir: String): DataFrame = {
    import graft.expr.{functions => F}
    val e = Tables.embeddings(spark, dir)
    val corpusBase = e.select(col("vec_id").as("n_id"), col("embedding").as("v"))
    val queriesBase = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("v"))

    def signed(df: DataFrame, idCol: String, asVec: String): DataFrame =
      df.select(col(idCol), col("v").as(asVec),
        posexplode(F.lsh_signatures(col("v"))).as(Seq("tbl", "sig")))

    val corpus = signed(corpusBase, "n_id", "vb")
    val probes = signed(queriesBase, "q_id", "va")
      .select(col("q_id"), col("va"), col("tbl"),
        explode(expr(s"array_union(array(sig), transform(sequence(0, ${NumPlanes - 1}), b -> " +
          s"cast(sig as int) ^ shiftleft(1, b)))")).as("sig"))

    val cands = broadcast(probes).join(corpus, Seq("tbl", "sig"))
      .filter(col("q_id") =!= col("n_id"))
      .dropDuplicates("q_id", "n_id")
      .withColumn("cos_r", round(cosine, 6))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_r").desc, col("n_id").asc)
    cands.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= K)
      .select(col("q_id"), col("n_id"), col("cos_r").as("cos"), col("rnk").cast("long").as("rnk"))
  }

  // ------------------------------------------------------------- IVF variant

  val NumCells = 16
  val NProbe = 3

  /** IVF-flat ANN: the corpus is partitioned into inverted lists by
    * nearest-centroid assignment; queries probe only the `NProbe` closest
    * lists. Centroids here are a deterministic corpus sample (the first
    * NumCells vectors) — in production they come from an offline k-means;
    * the operator's dataflow (assign → invert → probe → rank) is identical.
    * At 100 TB the cell id is the bucketing/partition key and each query
    * touches NProbe partitions instead of the corpus. */
  def simIvfTopk(spark: SparkSession, dir: String): DataFrame =
    ivfTopkN(spark, dir, NumQueries)

  private[graft] def ivfTopkN(spark: SparkSession, dir: String, nq: Int): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val centroids = broadcast(e.filter(col("vec_id") < NumCells)
      .select(col("vec_id").as("cell_id"), col("embedding").as("vb")))
    ivfTopkWith(e, centroids, cosine, nq)
  }

  /** Shared IVF dataflow (assign → invert → probe → rank) over a given
    * centroid set. `centroidCos` is the (va, vb) cosine matching the centroid
    * element type (float for the raw-sample stand-in, double for trained
    * means).
    *
    * Assignment: nearest centroid(s) by cosine (broadcast cross join +
    * window). Ordering on the 6-dp ROUNDED cosine with cell_id tie-break is
    * fully deterministic across engines, making the whole query
    * oracle-checkable (raw-double ordering could differ in the last bit). */
  private def ivfTopkWith(e: DataFrame, centroids: DataFrame, centroidCos: Column,
      nq: Int): DataFrame = {
    // Two separate assignments beat one shared ranked assignment here
    // (measured): the corpus side keeps only crnk=1 (1× rows through its
    // window) and the query side's keep-NProbe window runs on the tiny
    // query subset — a shared crnk<=NProbe corpus window would emit 3× the
    // rows and make the query branch pay the full-corpus window too.
    def assign(df: DataFrame, idCol: String, keep: Int): DataFrame = {
      // broadcast PINNED at the join site (not just at the caller): the
      // centroid side is a model (≤NumCells rows) and must never fall to a
      // shuffled cartesian under autoBroadcast threshold/config drift
      val scored = df.crossJoin(broadcast(centroids)).withColumn("c_sim", round(centroidCos, 6))
      val w = Window.partitionBy(col(idCol)).orderBy(col("c_sim").desc, col("cell_id").asc)
      scored.withColumn("crnk", row_number().over(w)).filter(col("crnk") <= keep)
        .select(col(idCol), col("va"), col("cell_id"))
    }
    val invertedLists = assign(
        e.select(col("vec_id").as("n_id"), col("embedding").as("va")), "n_id", 1)
      .withColumnRenamed("va", "vb")
    val queryProbes = assign(
      e.filter(col("vec_id") < nq)
        .select(col("vec_id").as("q_id"), col("embedding").as("va")), "q_id", NProbe)

    val cands = broadcast(queryProbes).join(invertedLists, Seq("cell_id"))
      .filter(col("q_id") =!= col("n_id"))
      .dropDuplicates("q_id", "n_id")
      .withColumn("cos_r", round(cosine, 6))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_r").desc, col("n_id").asc)
    cands.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= K)
      .select(col("q_id"), col("n_id"), col("cos_r").as("cos"), col("rnk").cast("long").as("rnk"))
  }

  // --------------------------------------------------- IVF, DISK-BACKED

  /** Fewer queries than the in-memory gallery: the audit needs probed
    * cells ≪ total cells so unread FILES provably exist at every
    * RangePartitioner sample. */
  val DiskQueries = 3
  val DiskFiles = 16

  def annIvfDiskRoot(dir: String): String =
    "spark-warehouse/ann_ivf_" + new java.io.File(dir).getName

  /** DISK-BACKED IVF (r19): the inverted lists become TABLE LAYOUT — the
    * corpus is assigned to its nearest cell, range-clustered by `cell_id`
    * into an [[graft.sinks.AtomicTable]] committed with `statsCols`, and a
    * query's NProbe cells are served by [[graft.sinks.StatsRead.read]]
    * FILE SKIPPING: the scan is constructed over only the files whose
    * cell-hull admits a probed cell, zero footer reads (both enforced —
    * the query THROWS otherwise). This is the ANN shape that actually
    * holds at 100 TB: the index is the layout, a query reads the probed
    * lists' files and nothing else, and the exact rerank runs inside the
    * candidates. Same assignment arithmetic as [[simIvfTopk]] (6-dp
    * rounded cosine, cell tie-break), so the oracle replays the whole
    * dataflow — layout must change IO, never results. */
  def simIvfDisk(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.{AtomicTable, StatsRead, TargetedDelete}
    val root = annIvfDiskRoot(dir)
    AtomicTable.deleteRecursively(java.nio.file.Paths.get(root))
    val e = Tables.embeddings(spark, dir)
    val centroids = broadcast(e.filter(col("vec_id") < NumCells)
      .select(col("vec_id").as("cell_id"), col("embedding").as("vb")))
    def assign(df: DataFrame, idCol: String, keep: Int): DataFrame = {
      val scored = df.crossJoin(centroids).withColumn("c_sim", round(cosine, 6))
      val w = Window.partitionBy(col(idCol)).orderBy(col("c_sim").desc, col("cell_id").asc)
      scored.withColumn("crnk", row_number().over(w)).filter(col("crnk") <= keep)
        .select(col(idCol), col("va"), col("cell_id"))
    }
    val inverted = assign(
        e.select(col("vec_id").as("n_id"), col("embedding").as("va")), "n_id", 1)
      .select(col("cell_id"), col("n_id"), col("va").as("vb"))
    AtomicTable.commit(
      inverted.repartitionByRange(DiskFiles, col("cell_id"))
        .sortWithinPartitions(col("cell_id"), col("n_id")),
      root, statsCols = Seq("cell_id"))
    val queryCells = assign(
      e.filter(col("vec_id") < DiskQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("va")),
      "q_id", NProbe)
    // the probed cell ids are MODEL-sized (≤ queries × NProbe) — the only
    // thing that ever reaches the driver; the corpus stays on disk
    val cells = queryCells.select(col("cell_id")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val (listed, rs) = StatsRead.read(spark, root,
      Seq("cell_id" -> TargetedDelete.KeySet.longs(cells)))
    if (rs.footerReads != 0 || rs.filesRead >= rs.totalFiles || rs.filesRead < 1)
      throw new IllegalStateException(
        s"disk IVF probe did not skip files: $rs (probed ${cells.size} of " +
          s"$NumCells cells; want footerReads=0, 1 <= filesRead < totalFiles)")
    val cands = broadcast(queryCells).join(listed, Seq("cell_id"))
      .filter(col("q_id") =!= col("n_id"))
      .dropDuplicates("q_id", "n_id")
      .withColumn("cos_r", round(cosine, 6))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_r").desc, col("n_id").asc)
    cands.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= K)
      .select(col("q_id"), col("n_id"), col("cos_r").as("cos"),
        col("rnk").cast("long").as("rnk"))
  }

  // ------------------------------------------- IVF with TRAINED centroids

  val KMeansIters = 2
  private val QuantScale = 1e6

  /** Cosine of a float embedding (va) vs a double centroid (vb). */
  private def cosineFD: Column =
    graft.expr.functions.cosine_similarity_fd(col("va"), col("vb"))

  /** Deterministic Lloyd's k-means over the embedding corpus — the offline
    * centroid-training step [[simIvfTopk]]'s stand-in deferred. Design choices
    * that make training replayable by the DuckDB oracle AND invariant to
    * partitioning:
    *   - seed centroids = the first `NumCells` vectors (the stand-in's set);
    *   - assignment by 6-dp ROUNDED cosine, cell_id tie-break (deterministic
    *     ordering across engines);
    *   - per-dimension means over 1e6-QUANTIZED components: integer sums are
    *     exact and order-independent, so new centroids are bit-identical
    *     regardless of how Spark partitions the corpus (a raw double sum
    *     would depend on reduction order);
    *   - a cell that loses all members keeps its previous centroid.
    * Executed MLlib-style: the 2 KB model lives on the DRIVER between
    * iterations (this is a collect of the MODEL — NumCells rows / 1024
    * aggregates — never of the data). Per iteration the corpus is assigned
    * by the codegen'd [[graft.expr.Expressions.NearestCells]] projection (no
    * crossJoin, no window — the corpus never shuffles) and reduced by ONE
    * map-side-combinable groupBy(cell, dim) integer sum, ≤ NumCells×dim rows
    * per partition on the wire. The previous crossJoin + row_number + two
    * groupBys + rebuild-join dataflow ran ~4 shuffles per iteration; results
    * are bit-identical (same rounded sims, same exact integer means). */
  private[graft] def kmeansCentroidArrays(e: DataFrame): Array[Array[Double]] = {
    // STAGE the (id, vector) slice once: the init collect plus every Lloyd
    // iteration re-evaluates `e` — against the fanned scan that was one
    // shuffle per iteration for a model-sized relation (the r21 fan-out
    // sweep measured sim_ivf_kmeans 0.77->1.06 s before this cut).
    // Iterations run on the tuned LoopSession child (AQE off, width from
    // the slice size) like the graph loops — the per-iteration aggregate
    // is map-side-combined to ≤ NumCells×dim rows, so the caller's 32-wide
    // AQE shuffle is pure fixed overhead on it.
    val caller = e.sparkSession
    val staged = e.select(col("vec_id"), col("embedding")).localCheckpoint()
    val loop = LoopSession.forCaller(caller)
    loop.synchronized {
      LoopSession.tune(caller, loop, staged.count())
      val ef = org.apache.spark.sql.GraftSessionBridge.reRoot(loop, staged)
      var cent: Array[Array[Double]] = ef.filter(col("vec_id") < NumCells)
        .collect()
        .sortBy(_.getLong(0))
        .map(_.getAs[collection.Seq[Float]](1).iterator.map(_.toDouble).toArray)
      for (_ <- 1 to KMeansIters) {
        val assigned = ef.select(
          graft.expr.functions.nearest_cells(col("embedding"), cent, 1)
            .getItem(0).getField("cell_id").as("cell_id"),
          col("embedding"))
        val sums = assigned
          .select(col("cell_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
          .groupBy("cell_id", "dim")
          .agg(sum(round(col("x").cast("double") * QuantScale).cast("long")).as("s"),
            count(lit(1)).as("c"))
          .collect()
        val next = cent.map(_.clone())
        sums.foreach { r =>
          next(r.getLong(0).toInt)(r.getInt(1)) =
            r.getLong(2).toDouble / (r.getLong(3) * QuantScale)
        }
        cent = next
      }
      cent
    }
  }

  /** [[kmeansCentroidArrays]] as a DataFrame (cell_id, vb) — the persistable
    * model artifact. */
  def kmeansCentroids(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    kmeansCentroidArrays(e).zipWithIndex
      .map { case (v, i) => (i.toLong, v.toSeq) }.toSeq.toDF("cell_id", "vb")
  }

  /** IVF-flat ANN over TRAINED centroids — closes the documented stand-in in
    * [[simIvfTopk]]: identical dataflow (assign → invert → probe → rank), but
    * the inverted lists are keyed by Lloyd's centroids, which is what decides
    * real recall at scale. Assignment is the codegen'd [[graft.expr.functions
    * .nearest_cells]] projection against the driver-side model — the corpus
    * reaches the probe join without a single shuffle. */
  def simIvfKmeansTopk(spark: SparkSession, dir: String): DataFrame =
    ivfKmeansTopkN(spark, dir, NumQueries)

  private[graft] def ivfKmeansTopkN(spark: SparkSession, dir: String, nq: Int): DataFrame = {
    import graft.expr.{functions => F}
    val e = Tables.embeddings(spark, dir)
    val cent = kmeansCentroidArrays(e)
    val invertedLists = e.select(col("vec_id").as("n_id"), col("embedding").as("vb"),
      F.nearest_cells(col("embedding"), cent, 1).getItem(0).getField("cell_id").as("cell_id"))
    val queryProbes = e.filter(col("vec_id") < nq)
      .select(col("vec_id").as("q_id"), col("embedding").as("va"),
        explode(F.nearest_cells(col("embedding"), cent, NProbe)).as("nc"))
      .select(col("q_id"), col("va"), col("nc.cell_id").as("cell_id"))
    val cands = broadcast(queryProbes).join(invertedLists, Seq("cell_id"))
      .filter(col("q_id") =!= col("n_id"))
      .dropDuplicates("q_id", "n_id")
      .withColumn("cos_r", round(cosine, 6))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_r").desc, col("n_id").asc)
    cands.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= K)
      .select(col("q_id"), col("n_id"), col("cos_r").as("cos"), col("rnk").cast("long").as("rnk"))
  }

  /** K-means cluster assignments as a first-class training-data operator
    * (cluster-aware mixing/dedup blocks, not just IVF lists): per vector its
    * trained cluster, the 6-dp cosine to the centroid, and the cluster size
    * — the per-cluster stats a curation pipeline samples against. One
    * codegen'd assignment projection + one 16-row size aggregate. */
  def simKmeansClusters(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val cent = kmeansCentroidArrays(e)
    val assigned = e.select(col("vec_id"),
        graft.expr.functions.nearest_cells(col("embedding"), cent, 1).getItem(0).as("nc"))
      .select(col("vec_id"), col("nc.cell_id").as("cell_id"), col("nc.sim").as("c_sim"))
      .localCheckpoint(false) // two consumers (sizes + join): one assignment pass
    val sizes = assigned.groupBy(col("cell_id")).agg(count(lit(1)).as("cluster_size"))
    assigned.join(broadcast(sizes), Seq("cell_id"))
      .select(col("vec_id"), col("cell_id"), col("c_sim").as("centroid_cos"),
        col("cluster_size"))
  }

  val SamplePerCluster = 20

  /** Cluster-BALANCED deterministic sampling — the diversity-sampling move
    * of embedding-aware curation (big clusters are downsampled toward
    * `SamplePerCluster` kept vectors, small ones kept whole), composed from
    * the trained assignment + the engine's reproducible md5 coin (same coin
    * contract as tc_sample_mix: content-independent, survives
    * repartitioning). All inputs to the keep decision are in the output, so
    * the oracle replays the whole policy. */
  def simClusterSample(spark: SparkSession, dir: String): DataFrame = {
    import graft.expr.{functions => F}
    val e = Tables.embeddings(spark, dir)
    val cent = kmeansCentroidArrays(e)
    val assigned = e.select(col("vec_id"),
      F.nearest_cells(col("embedding"), cent, 1).getItem(0).getField("cell_id").as("cell_id"))
      .localCheckpoint(false) // two consumers (sizes + join): one assignment pass
    val sizes = assigned.groupBy(col("cell_id")).agg(count(lit(1)).as("cluster_size"))
    val hex = md5(col("vec_id").cast("string").cast("binary"))
    val coin = (ascii(substring(hex, 1, 1)) * 256 + ascii(substring(hex, 2, 1))) % 100
    assigned.join(broadcast(sizes), Seq("cell_id"))
      .withColumn("rate",
        least(lit(100L), ceil(lit(SamplePerCluster * 100.0) / col("cluster_size"))))
      .withColumn("coin", coin.cast("long"))
      .select(col("vec_id"), col("cell_id"), col("cluster_size"), col("rate"),
        col("coin"), (col("coin") < col("rate")).as("sampled"))
  }

  /** Per-vector affine int8 quantization of the embedding corpus — the
    * storage/bandwidth scale path for 100 TB ANN (4× smaller vectors, error
    * bounded by scale/2 per component). A pure one-pass projection
    * ([[graft.expr.Expressions.Int8QuantStats]]); the declared output keeps
    * the order-independent summary (code sum, max reconstruction error) so
    * the oracle replay is exact. */
  def simInt8Quantize(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), graft.expr.functions.int8_quant_stats(col("embedding")).as("st"))
      .select(col("vec_id"),
        col("st").getItem(0).as("mn"),
        col("st").getItem(1).as("mx"),
        col("st").getItem(2).cast("long").as("sum_codes"),
        round(col("st").getItem(3), 6).as("max_abs_err"))

  // --------------------------------------------------- Product quantization

  val PqSubspaces = 8
  val PqSubDim = 8 // embedding dim 64 / PqSubspaces
  val PqCodes = 16 // centroids per subspace codebook
  val PqIters = 2

  /** Per-component exploded view keyed by (subspace, in-subspace dim):
    * the shared input of codebook training, encoding, and the ADC table. */
  private def pqEv(e: DataFrame): DataFrame =
    e.select(col("vec_id"), posexplode(col("embedding")).as(Seq("g", "x")))
      .select(col("vec_id"),
        (col("g") / PqSubDim).cast("int").as("sub"),
        (col("g") % PqSubDim).as("dim"),
        col("x").cast("double").as("v"),
        round(col("x").cast("double") * QuantScale).cast("long").as("qv"))

  private def pqCentDf(spark: SparkSession, model: Array[Array[Array[Double]]]): DataFrame = {
    import spark.implicits._
    broadcast(model.zipWithIndex.flatMap { case (cells, sub) =>
      cells.zipWithIndex.flatMap { case (dims, cell) =>
        dims.zipWithIndex.map { case (cv, dim) => (sub, cell, dim, cv) }
      }
    }.toSeq.toDF("sub", "cell", "dim", "cv"))
  }

  /** Deterministic per-subspace Lloyd's training of the PQ codebooks —
    * same replayability contract as [[kmeansCentroidArrays]] (seed = first
    * PqCodes vectors' subvectors, 6-dp rounded squared-L2 assignment with
    * cell tie-break, exact integer-quantized means, emptied cell keeps its
    * previous centroid), run for all [[PqSubspaces]] codebooks in ONE
    * dataflow per iteration. Executed MLlib-style like the k-means trainer:
    * assignment is the codegen'd [[graft.expr.Expressions.PqCells]]
    * projection against the driver-side model (no centroid-join expansion,
    * no per-(vec, sub) argmin shuffle — the corpus never shuffles to
    * assign), and each iteration reduces by ONE map-side-combinable
    * groupBy(sub, cell, dim) integer sum — ≤ 1024 rows per partition on the
    * wire. Only the ~8 KB model crosses to the driver. */
  private[graft] def pqCodebooks(e: DataFrame): Array[Array[Array[Double]]] = {
    import graft.expr.{functions => F}
    var model: Array[Array[Array[Double]]] =
      Array.fill(PqSubspaces, PqCodes, PqSubDim)(0.0)
    // same LoopSession execution as kmeansCentroidArrays: stage the slice
    // once, iterate on the tuned child, ship only the ~8 KB model per round
    val caller = e.sparkSession
    val staged = e.select(col("vec_id"), col("embedding")).localCheckpoint()
    val loop = LoopSession.forCaller(caller)
    loop.synchronized {
      LoopSession.tune(caller, loop, staged.count())
      val ef = org.apache.spark.sql.GraftSessionBridge.reRoot(loop, staged)
      ef.filter(col("vec_id") < PqCodes).select(col("vec_id"), col("embedding"))
        .collect().foreach { r =>
          val cell = r.getLong(0).toInt
          val emb = r.getAs[collection.Seq[Float]](1)
          var g = 0
          while (g < PqSubspaces * PqSubDim) {
            model(g / PqSubDim)(cell)(g % PqSubDim) = emb(g).toDouble
            g += 1
          }
        }
      for (_ <- 1 to PqIters) {
        // the assignment lives INSIDE the generator input, so it runs once per
        // vector — a bare select(pq_cells, posexplode) collapses into a
        // Project above the Generate and re-assigns per exploded row (64×)
        val sums = ef.select(
            explode(F.pq_contrib(col("embedding"), model, QuantScale)).as("ct"))
          .groupBy(col("ct.sub").as("sub"), col("ct.cell").as("cell"),
            col("ct.dim").as("dim"))
          .agg(sum(col("ct.qv")).as("s"), count(lit(1)).as("c"))
          .collect()
        val next = model.map(_.map(_.clone()))
        sums.foreach { r =>
          next(r.getInt(0))(r.getInt(1))(r.getInt(2)) =
            r.getAs[Long]("s").toDouble / (r.getAs[Long]("c") * QuantScale)
        }
        model = next
      }
      model
    }
  }

  val PqShortlist = 100 // ADC candidates per query refined with exact dots

  /** Product-quantized ANN: ADC shortlist + exact refine — the memory-scale
    * end of the ladder after brute force → LSH → trained IVF, and the shape
    * FAISS-style IVFADC deployments actually ship. Each vector is stored as
    * [[PqSubspaces]] codebook codes (8×4 bits here vs 256 raw float bytes —
    * the compression that lets a 100 TB corpus' index live in RAM), and the
    * first pass scores a query against a vector WITHOUT touching the
    * original floats: dot(q, x) ≈ Σ_sub table(q, sub, code_sub(x)), where
    * the per-query lookup table is dot products of the query's subvectors
    * against the codebooks. Quantization error caps shortlist-free recall
    * (~0.25@5 on this corpus — pinned in TrainingOpsSpec), so the ADC pass
    * keeps a [[PqShortlist]]-deep candidate set and only THOSE rows are
    * re-scored with exact dots. Shapes at scale: the code table is the
    * persisted artifact (4 bytes/vector), the per-query ADC table
    * (PqSubspaces × PqCodes doubles) is broadcast, the first pass is one
    * equi-join on (sub, code) + a per-query sum with the corpus never
    * shuffling, and the refine touches `queries × PqShortlist` float
    * vectors instead of the corpus. Training/encoding reuse the
    * deterministic Lloyd's contract so the DuckDB oracle replays the whole
    * pipeline, refine included. */
  def simPqAdcTopk(spark: SparkSession, dir: String): DataFrame =
    pqAdcTopkN(spark, dir, NumQueries)

  private[graft] def pqAdcTopkN(spark: SparkSession, dir: String, nq: Int): DataFrame = {
    import graft.expr.{functions => F}
    val e = Tables.embeddings(spark, dir)
    val model = pqCodebooks(e)
    // encode: ONE codegen'd projection per vector (the 4-byte code artifact)
    // — the corpus reaches the ADC join without a single shuffle
    val codes = e.select(col("vec_id").as("n_id"),
      posexplode(F.pq_cells(col("embedding"), model)).as(Seq("sub", "cell")))
    val tbl = pqEv(e.filter(col("vec_id") < nq))
      .join(pqCentDf(spark, model), Seq("sub", "dim"))
      .groupBy(col("vec_id").as("q_id"), col("sub"), col("cell"))
      .agg(round(sum(col("v") * col("cv")), 6).as("dot"))
    val adc = codes.join(broadcast(tbl), Seq("sub", "cell"))
      .filter(col("q_id") =!= col("n_id"))
      .groupBy("q_id", "n_id")
      .agg(round(sum("dot"), 6).as("adc"))
    val ws = Window.partitionBy(col("q_id")).orderBy(col("adc").desc, col("n_id").asc)
    val shortlist = adc.withColumn("srnk", row_number().over(ws))
      .filter(col("srnk") <= PqShortlist)
      .select("q_id", "n_id")
    // exact refine over the bounded shortlist (nq × PqShortlist rows — the
    // only place original float vectors are read back; the interpreted HOF
    // is fine at this row count)
    val exactDot = expr(
      "aggregate(zip_with(va, vb, (x, y) -> CAST(x AS DOUBLE) * y), 0D, (acc, v) -> acc + v)")
    val refined = shortlist
      .join(broadcast(e.filter(col("vec_id") < nq)
        .select(col("vec_id").as("q_id"), col("embedding").as("va"))), Seq("q_id"))
      .join(e.select(col("vec_id").as("n_id"), col("embedding").as("vb")), Seq("n_id"))
      .withColumn("dot_r", round(exactDot, 6))
    val w = Window.partitionBy(col("q_id")).orderBy(col("dot_r").desc, col("n_id").asc)
    refined.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= K)
      .select(col("q_id"), col("n_id"), col("dot_r"), col("rnk").cast("long").as("rnk"))
  }

  // ------------------------------------------------- PQ, DISK-BACKED

  def annPqDiskRoot(dir: String): String =
    "spark-warehouse/ann_pq_" + new java.io.File(dir).getName

  /** DISK-BACKED IVF-PQ — the SPANN/DiskANN shape, composed from what r19
    * proved separately (r19 verdict item 3): [[simIvfDisk]] made the
    * inverted lists TABLE LAYOUT; [[simPqAdcTopk]] made the scoring run on
    * 4-byte codes. Here the PQ CODES ARE A COLUMN of the cell-clustered
    * [[graft.sinks.AtomicTable]]: the corpus is assigned to its nearest
    * cell, encoded once ([[graft.expr.functions.pq_cells]] — the persisted
    * ~bytes-per-vector artifact), and committed range-clustered on
    * `cell_id` with stats. A query then (1) reads ONLY the probed lists'
    * FILES via [[graft.sinks.StatsRead.read]] — zero footer reads and
    * a strict file subset, both THROWN on — (2) ADC-scores the candidates
    * from the codes column against the broadcast per-query lookup table
    * (never touching the stored floats), (3) exact-refines only the
    * [[PqShortlist]]-deep shortlist from the same listed rows. At 100 TB
    * this is the ANN deployment shape: the index is the layout, a query's
    * IO is NProbe lists' files, and the first-pass bytes are the codes,
    * not the vectors. Same deterministic training/rounding contract as
    * the in-memory PQ, so the DuckDB oracle replays assignment, training,
    * ADC, and refine end to end — the disk layout must change IO, never
    * results. */
  def simPqDisk(spark: SparkSession, dir: String): DataFrame = {
    import graft.expr.{functions => F}
    import graft.sinks.{AtomicTable, StatsRead, TargetedDelete}
    val root = annPqDiskRoot(dir)
    AtomicTable.deleteRecursively(java.nio.file.Paths.get(root))
    val e = Tables.embeddings(spark, dir)
    val model = pqCodebooks(e)
    val centroids = broadcast(e.filter(col("vec_id") < NumCells)
      .select(col("vec_id").as("cell_id"), col("embedding").as("vb")))
    def assign(df: DataFrame, idCol: String, keep: Int): DataFrame = {
      val scored = df.crossJoin(centroids).withColumn("c_sim", round(cosine, 6))
      val w = Window.partitionBy(col(idCol)).orderBy(col("c_sim").desc, col("cell_id").asc)
      scored.withColumn("crnk", row_number().over(w)).filter(col("crnk") <= keep)
        .select(col(idCol), col("va"), col("cell_id"))
    }
    // the stored table: cell-clustered lists carrying the CODES column
    // (first-pass bytes) beside the raw vector (refine bytes)
    val inverted = assign(
        e.select(col("vec_id").as("n_id"), col("embedding").as("va")), "n_id", 1)
      .select(col("cell_id"), col("n_id"), col("va").as("vb"))
      .withColumn("codes", F.pq_cells(col("vb"), model))
    AtomicTable.commit(
      inverted.repartitionByRange(DiskFiles, col("cell_id"))
        .sortWithinPartitions(col("cell_id"), col("n_id")),
      root, statsCols = Seq("cell_id"))
    val queryCells = assign(
      e.filter(col("vec_id") < DiskQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("va")),
      "q_id", NProbe)
    val cells = queryCells.select(col("cell_id")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val (listed, rs) = StatsRead.read(spark, root,
      Seq("cell_id" -> TargetedDelete.KeySet.longs(cells)))
    if (rs.footerReads != 0 || rs.filesRead >= rs.totalFiles || rs.filesRead < 1)
      throw new IllegalStateException(
        s"disk PQ probe did not skip files: $rs (probed ${cells.size} of " +
          s"$NumCells cells; want footerReads=0, 1 <= filesRead < totalFiles)")
    // per-query ADC lookup table (PqSubspaces x PqCodes doubles — broadcast)
    val tbl = pqEv(e.filter(col("vec_id") < DiskQueries))
      .join(pqCentDf(spark, model), Seq("sub", "dim"))
      .groupBy(col("vec_id").as("q_id"), col("sub"), col("cell"))
      .agg(round(sum(col("v") * col("cv")), 6).as("dot"))
    // candidates = the probed lists' rows only; (q, n) unique by
    // construction (each n lives in exactly one cell)
    val cands = broadcast(queryCells.select(col("q_id"), col("cell_id")))
      .join(listed, Seq("cell_id"))
      .filter(col("q_id") =!= col("n_id"))
    val adc = cands
      .select(col("q_id"), col("n_id"), posexplode(col("codes")).as(Seq("sub", "cell")))
      .join(broadcast(tbl), Seq("q_id", "sub", "cell"))
      .groupBy("q_id", "n_id")
      .agg(round(sum("dot"), 6).as("adc"))
    val ws = Window.partitionBy(col("q_id")).orderBy(col("adc").desc, col("n_id").asc)
    val shortlist = adc.withColumn("srnk", row_number().over(ws))
      .filter(col("srnk") <= PqShortlist)
      .select("q_id", "n_id")
    val exactDot = expr(
      "aggregate(zip_with(va, vb, (x, y) -> CAST(x AS DOUBLE) * y), 0D, (acc, v) -> acc + v)")
    val refined = shortlist
      .join(broadcast(e.filter(col("vec_id") < DiskQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("va"))), Seq("q_id"))
      .join(listed.select(col("n_id"), col("vb")), Seq("n_id"))
      .withColumn("dot_r", round(exactDot, 6))
    val w = Window.partitionBy(col("q_id")).orderBy(col("dot_r").desc, col("n_id").asc)
    refined.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= K)
      .select(col("q_id"), col("n_id"), col("dot_r"),
        col("rnk").cast("long").as("rnk"))
  }

  val queries: Map[String, Relational.Q] = Map(
    "sim_pq_adc" -> (simPqAdcTopk _),
    "ann_pq_disk" -> (simPqDisk _),
    "sim_int8_quantize" -> (simInt8Quantize _),
    "sim_bruteforce_topk" -> (simBruteforceTopk _),
    "sim_lsh_topk" -> (simLshTopk _),
    "sim_ivf_topk" -> (simIvfTopk _),
    "ann_ivf_disk" -> (simIvfDisk _),
    "sim_ivf_kmeans" -> (simIvfKmeansTopk _),
    "sim_kmeans_clusters" -> (simKmeansClusters _),
    "sim_cluster_sample" -> (simClusterSample _))

  /** DuckDB sign-bit signature for one hash table: the SAME inlined
    * hyperplane constants as VecAlgo.lshSignatures, summed in the same
    * element order — bit-identical buckets. */
  private def sigSqlExpr(t: Int): String = {
    val dim = 64
    (0 until NumPlanes).map { p =>
      val terms = (0 until dim)
        .map(d => s"CAST(embedding[${d + 1}] AS DOUBLE) * ${graft.expr.VecAlgo.planeComponent(t, p, d)}")
        .mkString(" + ")
      s"CASE WHEN ($terms) >= 0 THEN ${1 << p} ELSE 0 END"
    }.mkString("(", " + ", ")")
  }

  private def topkSql: String =
    s"""scored AS (
       |  SELECT q_id, n_id,
       |    CAST(round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
       |      CAST(n.embedding AS DOUBLE[])), 6) AS DOUBLE) AS cos,
       |    row_number() OVER (PARTITION BY q_id ORDER BY
       |      round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
       |        CAST(n.embedding AS DOUBLE[])), 6) DESC, n_id ASC) AS rnk
       |  FROM cands JOIN embeddings q ON q.vec_id = q_id
       |             JOIN embeddings n ON n.vec_id = n_id)
       |SELECT q_id, n_id, cos, rnk FROM scored WHERE rnk <= $K""".stripMargin

  /** One unrolled Lloyd's iteration for the DuckDB oracle: score vs the
    * previous centroids (per-dim join, 6-dp rounded cosine), hard-assign,
    * exact integer-quantized per-dim means, keep the previous centroid for
    * any emptied cell — the same contract as [[kmeansCentroids]]. */
  private def kmeansIterSql(i: Int): String = {
    val prev = s"c${i - 1}"
    s"""s$i AS (SELECT e.vec_id, c.cell_id,
       |    round(sum(e.v * c.cv) / (sqrt(sum(e.v * e.v)) * sqrt(sum(c.cv * c.cv))), 6) AS sim
       |  FROM ev e JOIN $prev c ON e.dim = c.dim GROUP BY 1, 2),
       |a$i AS (SELECT vec_id, cell_id FROM (
       |    SELECT vec_id, cell_id,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell_id ASC) AS rn
       |    FROM s$i) WHERE rn = 1),
       |m$i AS (SELECT a.cell_id, e.dim,
       |    CAST(sum(e.qv) AS DOUBLE) / (count(*) * 1000000.0) AS cv
       |  FROM a$i a JOIN ev e USING (vec_id) GROUP BY 1, 2),
       |c$i AS (SELECT p.cell_id, p.dim, coalesce(m.cv, p.cv) AS cv
       |  FROM $prev p LEFT JOIN m$i m ON p.cell_id = m.cell_id AND p.dim = m.dim)""".stripMargin
  }

  /** Shared oracle prefix: quantized per-dim corpus, seed centroids, the
    * unrolled Lloyd's iterations, and the final per-vector assignment
    * ranking (`af`). */
  private[graft] def kmeansPrefixSql: String =
    s"""WITH ev AS (
       |  SELECT vec_id, g AS dim, CAST(embedding[g] AS DOUBLE) AS v,
       |    CAST(round(CAST(embedding[g] AS DOUBLE) * 1000000) AS BIGINT) AS qv
       |  FROM embeddings, generate_series(1, 64) t(g)),
       |c0 AS (SELECT vec_id AS cell_id, dim, v AS cv FROM ev WHERE vec_id < $NumCells),
       |""".stripMargin +
      (1 to KMeansIters).map(kmeansIterSql).mkString(",\n") + ",\n" +
      s"""sf AS (SELECT e.vec_id, c.cell_id,
         |    round(sum(e.v * c.cv) / (sqrt(sum(e.v * e.v)) * sqrt(sum(c.cv * c.cv))), 6) AS sim
         |  FROM ev e JOIN c$KMeansIters c ON e.dim = c.dim GROUP BY 1, 2),
         |af AS (SELECT vec_id, cell_id, sim,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell_id ASC) AS crnk
         |  FROM sf),
         |""".stripMargin

  private def ivfKmeansSql: String =
    kmeansPrefixSql +
      s"""inv AS (SELECT vec_id AS n_id, cell_id FROM af WHERE crnk = 1),
         |qp AS (SELECT vec_id AS q_id, cell_id FROM af
         |  WHERE crnk <= $NProbe AND vec_id < $NumQueries),
         |cands AS (SELECT DISTINCT q_id, n_id FROM qp JOIN inv USING (cell_id)
         |  WHERE q_id != n_id),
         |""".stripMargin + topkSql

  private def kmeansClustersSql: String =
    kmeansPrefixSql +
      """asg AS (SELECT vec_id, cell_id, CAST(sim AS DOUBLE) AS centroid_cos
        |  FROM af WHERE crnk = 1),
        |sz AS (SELECT cell_id, count(*) AS cluster_size FROM asg GROUP BY cell_id)
        |SELECT a.vec_id, a.cell_id, a.centroid_cos, s.cluster_size
        |FROM asg a JOIN sz s USING (cell_id)""".stripMargin

  private def clusterSampleSql: String = {
    val coin = """(ascii(substring(md5(CAST(a.vec_id AS VARCHAR)), 1, 1)) * 256
      + ascii(substring(md5(CAST(a.vec_id AS VARCHAR)), 2, 1))) % 100"""
    val rate = s"least(100, ceil(${SamplePerCluster * 100}.0 / s.cluster_size))"
    kmeansPrefixSql +
      s"""asg AS (SELECT vec_id, cell_id FROM af WHERE crnk = 1),
         |sz AS (SELECT cell_id, count(*) AS cluster_size FROM asg GROUP BY cell_id)
         |SELECT a.vec_id, a.cell_id, s.cluster_size,
         |  CAST($rate AS BIGINT) AS rate,
         |  CAST($coin AS BIGINT) AS coin,
         |  $coin < $rate AS sampled
         |FROM asg a JOIN sz s USING (cell_id)""".stripMargin
  }

  /** One unrolled per-subspace Lloyd's iteration for the PQ oracle — the
    * [[kmeansIterSql]] contract with a `sub` dimension threaded through
    * (squared-L2 instead of cosine, per the PQ norm). */
  private def pqIterSql(i: Int): String = {
    val prev = s"pc${i - 1}"
    s"""ps$i AS (SELECT e.vec_id, e.sub, c.cell,
       |    round(sum((e.v - c.cv) * (e.v - c.cv)), 6) AS d2
       |  FROM pev e JOIN $prev c ON e.sub = c.sub AND e.dim = c.dim GROUP BY 1, 2, 3),
       |pa$i AS (SELECT vec_id, sub, cell FROM (
       |    SELECT vec_id, sub, cell,
       |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2 ASC, cell ASC) AS rn
       |    FROM ps$i) WHERE rn = 1),
       |pm$i AS (SELECT a.sub, a.cell, e.dim,
       |    CAST(sum(e.qv) AS DOUBLE) / (count(*) * 1000000.0) AS cv
       |  FROM pa$i a JOIN pev e ON a.vec_id = e.vec_id AND a.sub = e.sub GROUP BY 1, 2, 3),
       |pc$i AS (SELECT p.sub, p.cell, p.dim, coalesce(m.cv, p.cv) AS cv
       |  FROM $prev p LEFT JOIN pm$i m ON p.sub = m.sub AND p.cell = m.cell AND p.dim = m.dim)""".stripMargin
  }

  private def pqAdcSql: String =
    s"""WITH pev AS (
       |  SELECT vec_id, CAST((g - 1) // $PqSubDim AS INT) AS sub,
       |    CAST((g - 1) % $PqSubDim AS INT) AS dim,
       |    CAST(embedding[g] AS DOUBLE) AS v,
       |    CAST(round(CAST(embedding[g] AS DOUBLE) * 1000000) AS BIGINT) AS qv
       |  FROM embeddings, generate_series(1, 64) t(g)),
       |pc0 AS (SELECT CAST(vec_id AS INT) AS cell, sub, dim, v AS cv
       |  FROM pev WHERE vec_id < $PqCodes),
       |""".stripMargin +
      (1 to PqIters).map(pqIterSql).mkString(",\n") + ",\n" +
      s"""psf AS (SELECT e.vec_id, e.sub, c.cell,
         |    round(sum((e.v - c.cv) * (e.v - c.cv)), 6) AS d2
         |  FROM pev e JOIN pc$PqIters c ON e.sub = c.sub AND e.dim = c.dim GROUP BY 1, 2, 3),
         |paf AS (SELECT vec_id, sub, cell FROM (
         |    SELECT vec_id, sub, cell,
         |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2 ASC, cell ASC) AS rn
         |    FROM psf) WHERE rn = 1),
         |ptbl AS (SELECT q.vec_id AS q_id, c.sub, c.cell,
         |    round(sum(q.v * c.cv), 6) AS dot
         |  FROM pev q JOIN pc$PqIters c ON q.sub = c.sub AND q.dim = c.dim
         |  WHERE q.vec_id < $NumQueries GROUP BY 1, 2, 3),
         |padc AS (SELECT t.q_id, a.vec_id AS n_id, round(sum(t.dot), 6) AS adc
         |  FROM paf a JOIN ptbl t ON a.sub = t.sub AND a.cell = t.cell
         |  WHERE a.vec_id != t.q_id GROUP BY 1, 2),
         |pshort AS (SELECT q_id, n_id FROM (
         |  SELECT q_id, n_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, n_id ASC) AS srnk
         |  FROM padc) WHERE srnk <= $PqShortlist),
         |pex AS (SELECT s.q_id, s.n_id, round(sum(q.v * n.v), 6) AS dot_r
         |  FROM pshort s
         |  JOIN pev q ON q.vec_id = s.q_id
         |  JOIN pev n ON n.vec_id = s.n_id AND n.sub = q.sub AND n.dim = q.dim
         |  GROUP BY 1, 2)
         |SELECT q_id, n_id, dot_r, rnk FROM (
         |  SELECT q_id, n_id, dot_r,
         |    row_number() OVER (PARTITION BY q_id ORDER BY dot_r DESC, n_id ASC) AS rnk
         |  FROM pex) WHERE rnk <= $K""".stripMargin

  /** The disk-PQ oracle: the PQ training/encoding CTEs (the [[pqAdcSql]]
    * contract) composed with the raw-sample IVF assignment (the
    * [[ivfTopkOracle]] contract) — ADC and refine run over ONLY the
    * probed cells' candidates, exactly the rows the disk path reads. */
  private def annPqDiskSql: String =
    s"""WITH pev AS (
       |  SELECT vec_id, CAST((g - 1) // $PqSubDim AS INT) AS sub,
       |    CAST((g - 1) % $PqSubDim AS INT) AS dim,
       |    CAST(embedding[g] AS DOUBLE) AS v,
       |    CAST(round(CAST(embedding[g] AS DOUBLE) * 1000000) AS BIGINT) AS qv
       |  FROM embeddings, generate_series(1, 64) t(g)),
       |pc0 AS (SELECT CAST(vec_id AS INT) AS cell, sub, dim, v AS cv
       |  FROM pev WHERE vec_id < $PqCodes),
       |""".stripMargin +
      (1 to PqIters).map(pqIterSql).mkString(",\n") + ",\n" +
      s"""psf AS (SELECT e.vec_id, e.sub, c.cell,
         |    round(sum((e.v - c.cv) * (e.v - c.cv)), 6) AS d2
         |  FROM pev e JOIN pc$PqIters c ON e.sub = c.sub AND e.dim = c.dim GROUP BY 1, 2, 3),
         |paf AS (SELECT vec_id, sub, cell FROM (
         |    SELECT vec_id, sub, cell,
         |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2 ASC, cell ASC) AS rn
         |    FROM psf) WHERE rn = 1),
         |iasn AS (
         |  SELECT e.vec_id, c.vec_id AS cell_id,
         |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |      round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
         |        CAST(c.embedding AS DOUBLE[])), 6) DESC, c.vec_id ASC) AS crnk
         |  FROM embeddings e, embeddings c WHERE c.vec_id < $NumCells),
         |inv AS (SELECT vec_id AS n_id, cell_id FROM iasn WHERE crnk = 1),
         |qp AS (SELECT vec_id AS q_id, cell_id FROM iasn
         |       WHERE crnk <= $NProbe AND vec_id < $DiskQueries),
         |cands AS (SELECT DISTINCT q_id, n_id FROM qp JOIN inv USING (cell_id)
         |  WHERE q_id != n_id),
         |ptbl AS (SELECT q.vec_id AS q_id, c.sub, c.cell,
         |    round(sum(q.v * c.cv), 6) AS dot
         |  FROM pev q JOIN pc$PqIters c ON q.sub = c.sub AND q.dim = c.dim
         |  WHERE q.vec_id < $DiskQueries GROUP BY 1, 2, 3),
         |padc AS (SELECT cd.q_id, cd.n_id, round(sum(t.dot), 6) AS adc
         |  FROM cands cd
         |  JOIN paf a ON a.vec_id = cd.n_id
         |  JOIN ptbl t ON a.sub = t.sub AND a.cell = t.cell AND t.q_id = cd.q_id
         |  GROUP BY 1, 2),
         |pshort AS (SELECT q_id, n_id FROM (
         |  SELECT q_id, n_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, n_id ASC) AS srnk
         |  FROM padc) WHERE srnk <= $PqShortlist),
         |pex AS (SELECT s.q_id, s.n_id, round(sum(q.v * n.v), 6) AS dot_r
         |  FROM pshort s
         |  JOIN pev q ON q.vec_id = s.q_id
         |  JOIN pev n ON n.vec_id = s.n_id AND n.sub = q.sub AND n.dim = q.dim
         |  GROUP BY 1, 2)
         |SELECT q_id, n_id, dot_r, rnk FROM (
         |  SELECT q_id, n_id, dot_r,
         |    row_number() OVER (PARTITION BY q_id ORDER BY dot_r DESC, n_id ASC) AS rnk
         |  FROM pex) WHERE rnk <= $K""".stripMargin

  val oracles: Map[String, String] = Map(
    "sim_pq_adc" -> pqAdcSql,
    "ann_pq_disk" -> annPqDiskSql,
    "sim_int8_quantize" ->
      """WITH s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |b AS (SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx FROM s),
        |c AS (SELECT vec_id, v, mn, mx,
        |    CASE WHEN mx > mn THEN (mx - mn) / 255.0 ELSE 0.0 END AS scale FROM b),
        |q AS (SELECT vec_id, v, mn, mx, scale,
        |    list_transform(v, x -> CASE WHEN scale > 0
        |      THEN floor((x - mn) / scale + 0.5) ELSE 0.0 END) AS codes FROM c)
        |SELECT vec_id, mn, mx,
        |  CAST(list_sum(codes) AS BIGINT) AS sum_codes,
        |  CAST(round(list_max(list_transform(range(len(v)),
        |    i -> abs(v[i + 1] - (mn + codes[i + 1] * scale)))), 6) AS DOUBLE) AS max_abs_err
        |FROM q""".stripMargin,
    "sim_cluster_sample" -> clusterSampleSql,
    "sim_ivf_kmeans" -> ivfKmeansSql,
    "sim_kmeans_clusters" -> kmeansClustersSql,
    "sim_bruteforce_topk" ->
      s"""SELECT q_id, n_id, cos, rnk FROM (
         |  SELECT q.vec_id AS q_id, n.vec_id AS n_id,
         |    CAST(round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
         |      CAST(n.embedding AS DOUBLE[])), 6) AS DOUBLE) AS cos,
         |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |      round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
         |        CAST(n.embedding AS DOUBLE[])), 6) DESC, n.vec_id ASC) AS rnk
         |  FROM embeddings q JOIN embeddings n ON q.vec_id != n.vec_id
         |  WHERE q.vec_id < $NumQueries) WHERE rnk <= $K""".stripMargin,
    "sim_lsh_topk" ->
      s"""WITH sigs AS (
         |  SELECT vec_id, ${(0 until NumTables).map(t => s"${sigSqlExpr(t)} AS s$t").mkString(", ")}
         |  FROM embeddings),
         |tbl_sigs AS (
         |  SELECT vec_id, t.tbl,
         |    CASE t.tbl ${(0 until NumTables).map(t => s"WHEN $t THEN s$t").mkString(" ")} END AS sig
         |  FROM sigs, (VALUES ${(0 until NumTables).map(t => s"($t)").mkString(", ")}) t(tbl)),
         |probes AS (
         |  SELECT DISTINCT vec_id AS q_id, tbl,
         |    CASE WHEN b.b = -1 THEN sig ELSE xor(sig, (1 << b.b)) END AS sig
         |  FROM tbl_sigs, (VALUES (-1), ${(0 until NumPlanes).map(b => s"($b)").mkString(", ")}) b(b)
         |  WHERE vec_id < $NumQueries),
         |cands AS (
         |  SELECT DISTINCT p.q_id, c.vec_id AS n_id
         |  FROM probes p JOIN tbl_sigs c ON p.tbl = c.tbl AND p.sig = c.sig
         |  WHERE p.q_id != c.vec_id),
         |$topkSql""".stripMargin,
    "sim_ivf_topk" -> ivfTopkOracle(NumQueries),
    // the disk layout must change IO, never results: same replay as the
    // in-memory IVF, over the disk variant's query count
    "ann_ivf_disk" -> ivfTopkOracle(DiskQueries))

  private def ivfTopkOracle(nq: Int): String =
    s"""WITH assign AS (
       |  SELECT e.vec_id, c.vec_id AS cell_id,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |      round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
       |        CAST(c.embedding AS DOUBLE[])), 6) DESC, c.vec_id ASC) AS crnk
       |  FROM embeddings e, embeddings c WHERE c.vec_id < $NumCells),
       |inv AS (SELECT vec_id AS n_id, cell_id FROM assign WHERE crnk = 1),
       |qp AS (SELECT vec_id AS q_id, cell_id FROM assign
       |       WHERE crnk <= $NProbe AND vec_id < $nq),
       |cands AS (
       |  SELECT DISTINCT q_id, n_id FROM qp JOIN inv USING (cell_id)
       |  WHERE q_id != n_id),
       |$topkSql""".stripMargin
}
