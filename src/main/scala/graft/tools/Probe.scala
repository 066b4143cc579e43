package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Ad-hoc plan/skew probe: `sbt "runMain graft.tools.Probe <what> <sfDir>"`.
  * Dev tool — not part of the driver contract. */
object Probe {
  def main(args: Array[String]): Unit = {
    val what = args.headOption.getOrElse("minhash_buckets")
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = graft.Sessions.local(32)
    spark.sparkContext.setLogLevel("WARN")
    what match {
      case "minhash_buckets" =>
        import graft.ops.TextDedup
        // rebuild the banded relation and show bucket-size distribution
        val df = TextDedup.ddMinhashLsh(spark, dir)
        println("pairs=" + df.count())
      case "minhash_stages" =>
        val p = 2147483647L
        def t[A](label: String)(f: => A): A = {
          val t0 = System.nanoTime(); val r = f
          println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
        }
        val docsSh = graft.Tables.documents(spark, dir)
          .withColumn("words", split(trim(col("text")), "\\s+"))
          .withColumn("sh", expr("CASE WHEN size(words) < 3 THEN CAST(array() AS ARRAY<STRING>) ELSE array_distinct(transform(sequence(0, size(words) - 3), i -> concat_ws(' ', words[i], words[i+1], words[i+2]))) END"))
          .filter(size(col("sh")) > 0).select(col("doc_id"), col("sh"))
        t("docsSh count")(docsSh.count())
        val sigAggs = (0 until 32).map { i =>
          val a = 1103515245L * (i + 1) % p
          val b = (12345L + 2654435761L * i) % p
          min(expr(s"($a * h + $b) % $p")).as(s"sig_$i")
        }
        val sigs = docsSh.select(col("doc_id"), explode(col("sh")).as("s"))
          .withColumn("h", expr(s"abs(cast(hash(s) as bigint)) % $p"))
          .groupBy(col("doc_id")).agg(sigAggs.head, sigAggs.tail: _*)
        t("sigs count")(sigs.count())
        t("full pairs")(graft.ops.TextDedup.ddMinhashLsh(spark, dir).count())
      case "minhash_dist" =>
        // bucket-size distribution of the banded LSH relation
        val p = 2147483647L
        val docsSh = graft.Tables.documents(spark, dir)
          .withColumn("words", split(trim(col("text")), "\\s+"))
          .withColumn("sh", expr("CASE WHEN size(words) < 3 THEN CAST(array() AS ARRAY<STRING>) ELSE array_distinct(transform(sequence(0, size(words) - 3), i -> concat_ws(' ', words[i], words[i+1], words[i+2]))) END"))
          .filter(size(col("sh")) > 0)
        val sigAggs = (0 until 32).map { i =>
          val a = 1103515245L * (i + 1) % p
          val b = (12345L + 2654435761L * i) % p
          min(expr(s"($a * h + $b) % $p")).as(s"sig_$i")
        }
        val sigs = docsSh.select(col("doc_id"), explode(col("sh")).as("s"))
          .withColumn("h", expr(s"abs(cast(hash(s) as bigint)) % $p"))
          .groupBy(col("doc_id")).agg(sigAggs.head, sigAggs.tail: _*)
        val bandKeys = (0 until 8).map { bnd =>
          concat_ws(":", lit(bnd) +: (0 until 4).map(r => col(s"sig_${bnd * 4 + r}")): _*)
        }
        val banded = sigs.select(col("doc_id"), explode(array(bandKeys: _*)).as("band_key"))
        banded.groupBy("band_key").count().orderBy(col("count").desc).show(10, false)
        banded.groupBy("band_key").count()
          .agg(sum(col("count") * col("count")).as("sum_sq"), count(lit(1)).as("n_buckets")).show()
      case "time" =>
        // time one named SparkEntry query n times: time <name> <sfDir> <n>
        val name = args(1)
        val sf = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
        val n = if (args.length > 3) args(3).toInt else 3
        (1 to n).foreach { i =>
          val t0 = System.nanoTime()
          // noop sink = full-plan materialization (count() lets Catalyst
          // prune columns/subtrees; see Bench.once)
          graft.SparkEntry.queries(name)(spark, sf)
            .write.mode("overwrite").format("noop").save()
          println(f"$name run $i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
        }
      case "spatial_cover" =>
        // candidate-pair fan-out of the cell prefilter over the 98 real Paris
        // zones: true polygon cover vs the old bbox cover
        import spark.implicits._
        val areas = graft.domain.Spatial.loadUrbanAreasJsonl(spark,
          graft.domain.Spatial.ParisGeometryJsonl)
        val rings = areas.select("area_id", "ring").collect()
          .map(r => (r.getString(0), r.getSeq[scala.collection.Seq[Double]](1)
            .map(_.toArray).toArray))
        val res = 11
        val polyCover = rings.flatMap { case (id, ring) =>
          graft.expr.CellGrid.polygonCover(ring, res).map((id, _)) }
        val bboxCover = rings.flatMap { case (id, ring) =>
          val lngs = ring.map(_(0)); val lats = ring.map(_(1))
          graft.expr.CellGrid.bboxCover(lats.min, lats.max, lngs.min, lngs.max, res)
            .map((id, _)) }
        println(s"cover rows: poly=${polyCover.length} bbox=${bboxCover.length}")
        // candidate pairs against a dense lattice of probe points over Paris
        val pts = (for { i <- 0 until 200; j <- 0 until 100 } yield
          (s"p$i-$j", 48.815 + i * 0.00044, 2.224 + j * 0.00246)).toDF("poi_id", "lat", "lng")
          .withColumn("cell", graft.expr.functions.cell_of(col("lat"), col("lng"), lit(res)))
        def pairs(c: Array[(String, String)]): Long =
          pts.join(c.toSeq.toDF("area_id", "cell"), Seq("cell")).count()
        println(s"candidate pairs: poly=${pairs(polyCover)} bbox=${pairs(bboxCover)}")
      case "cover_cost" =>
        // driver-side wall of polygonCoverFlagged over the 98 Paris rings per
        // res, plus ring-size stats — isolates cover construction from the
        // join. Args: cover_cost [res,res,...]
        val resL = (if (args.length > 1) args(1) else "11,12,13")
          .split(",").map(_.trim.toInt)
        val ringRows = graft.domain.Spatial.loadUrbanAreasJsonl(spark,
          graft.domain.Spatial.ParisGeometryJsonl)
          .select("ring").collect()
          .map(_.getSeq[scala.collection.Seq[Double]](0).map(_.toArray).toArray)
        println(s"[cover] rings=${ringRows.length} " +
          s"verts total=${ringRows.map(_.length).sum} max=${ringRows.map(_.length).max}")
        resL.foreach { res =>
          (1 to 3).foreach { pass =>
            val t0 = System.nanoTime()
            val n = ringRows.map(r =>
              graft.expr.CellGrid.polygonCoverFlagged(r, res).length).sum
            println(f"[cover] res=$res pass$pass cells=$n wall=${(System.nanoTime() - t0) / 1e9}%.3f s")
          }
        }
      case "spatial_skip" =>
        // interior-skip fraction of the j1 vol fixture per cover resolution:
        // candidates admitted by the cell prefilter, how many skip the exact
        // ray-cast (cell_interior), cover size, and wall per res. Grounds the
        // adaptive-resolution choice in measured data. Args: spatial_skip [res,res,...]
        val resList = (if (args.length > 1) args(1) else "11,12,13")
          .split(",").map(_.trim.toInt)
        val areas = graft.domain.Spatial.loadUrbanAreasJsonl(spark,
          graft.domain.Spatial.ParisGeometryJsonl)
        val pts = graft.domain.Spatial.volPoints(spark, graft.domain.Spatial.ParisVolN)
        resList.foreach { res =>
          val t0 = System.nanoTime()
          val cands = graft.domain.Spatial.cellCandidates(pts, areas, res)
          val agg = cands.agg(count(lit(1)),
            sum(when(col("cell_interior"), 1L).otherwise(0L))).first()
          val (n, interior) = (agg.getLong(0), agg.getLong(1))
          val coverRows = areas.select(explode(udf { (ring: Seq[Seq[Double]]) =>
            graft.expr.CellGrid.polygonCover(ring.map(_.toArray).toArray, res)
          }.apply(col("ring")))).count()
          println(f"[skip] res=$res cover=$coverRows cands=$n interior=$interior " +
            f"(${100.0 * interior / math.max(1L, n)}%.1f%% skip) wall=${(System.nanoTime() - t0) / 1e9}%.2f s")
        }
      case "p7_stages" =>
        import graft.domain.Collections
        def t[A](label: String)(f: => A): A = {
          val t0 = System.nanoTime(); val r = f
          println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
        }
        val pois = Collections.taggedPoisVol(spark, dir)
        t("pois")(pois.count())
        val tmpl = Collections.templates24Df(spark)
        val matched = pois.join(broadcast(tmpl))
          .withColumn("match_score", round(graft.expr.functions.tag_match_score(
            col("tags"), col("required_tags"), col("excluded_tags"), col("min_confidence")), 6))
          .filter(col("match_score").isNotNull)
        t("matched")(matched.count())
        t("full")(Collections.qCollectionsVol24(spark, dir).count())
        t("full2")(Collections.qCollectionsVol24(spark, dir).count())
      case "explain" =>
        val name = args(1)
        val sf = if (args.length > 2) args(2) else "/root/testdata/sf0.01"
        graft.SparkEntry.queries(name)(spark, sf).explain("formatted")
      case "jobs" =>
        // job-level profile of one named query: one discarded warmup, then a
        // timed run with a listener recording each Spark job's wall span and
        // the DRIVER GAP before it (planning/FS/commit work between jobs).
        // Args: jobs <name> [sfDir] — the quickest way to tell whether a
        // lifecycle query's cost is data work (few big jobs) or fixed
        // overhead (many small jobs / large gaps). Comma-separated names run
        // back to back in one JVM.
        val names2 = args(1).split(",").map(_.trim).filter(_.nonEmpty)
        val sf = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
        // optional 4th arg: comma-separated k=v session confs to apply first
        if (args.length > 3) args(3).split(",").filter(_.contains("=")).foreach { kv =>
          val Array(k, v) = kv.split("=", 2)
          spark.conf.set(k, v); println(s"[jobs] conf $k=$v")
        }
        names2.foreach { name =>
        def runOnce(): Double = {
          val t0 = System.nanoTime()
          graft.SparkEntry.queries(name)(spark, sf)
            .write.mode("overwrite").format("noop").save()
          (System.nanoTime() - t0) / 1e9
        }
        runOnce() // warmup
        val jobs = new java.util.concurrent.ConcurrentHashMap[
          Int, (String, Long, Long)]()
        val listener = new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            val site = Option(js.properties)
              .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
            jobs.put(js.jobId, (site, js.time, 0L))
          }
          override def onJobEnd(
              je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            val prev = jobs.get(je.jobId)
            if (prev != null) jobs.put(je.jobId, (prev._1, prev._2, je.time))
          }
        }
        spark.sparkContext.addSparkListener(listener)
        val wall = runOnce()
        Thread.sleep(300)
        spark.sparkContext.removeSparkListener(listener)
        import scala.jdk.CollectionConverters._
        val rows = jobs.asScala.toSeq.sortBy(_._1)
        val jobSum = rows.map { case (_, (_, s, e)) => math.max(0L, e - s) }.sum / 1e3
        println(f"[jobs] $name wall=$wall%.2f s jobs=${rows.size} jobTimeSum=$jobSum%.2f s")
        var prevEnd = 0L
        rows.foreach { case (id, (site, s, e)) =>
          val gap = if (prevEnd == 0L) 0.0 else math.max(0L, s - prevEnd) / 1e3
          prevEnd = math.max(prevEnd, e)
          println(f"[job $id%4d] ${math.max(0L, e - s) / 1e3}%7.3f s  gap=$gap%6.3f s  $site")
        }
        }
      case "cc_kernel" =>
        // plan evidence for the star-contraction round kernel: explain ONE
        // large-star + small-star round over the planted cluster edges. The
        // loop itself runs eagerly behind per-round localCheckpoints, so the
        // declared queries' explain dumps never show this shape. Args:
        // cc_kernel [outFile]
        val txt = graft.ops.TextDedup.roundKernel(spark)
          .queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        if (args.length > 1)
          java.nio.file.Files.writeString(java.nio.file.Paths.get(args(1)), txt)
        else println(txt)
      case "explainall" =>
        // capture `explain("formatted")` for a list of queries (or every
        // declared query) into <outDir>/<name>_<tag>.txt — the optimization
        // rounds' before/after plan evidence. Args: explainall <outDir>
        // <tag> [sfDir] [q1,q2,...]
        val outDir = args(1)
        val tag = if (args.length > 2) args(2) else "before"
        val sf = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
        val wanted: Option[Set[String]] =
          if (args.length > 4) Some(args(4).split(",").map(_.trim).filter(_.nonEmpty).toSet)
          else None
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
        val names = graft.SparkEntry.queries.keys.toSeq.sorted
          .filter(n => wanted.forall(_.contains(n)))
        names.foreach { name =>
          try {
            val df = graft.SparkEntry.queries(name)(spark, sf)
            val txt = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.writeString(
              java.nio.file.Paths.get(outDir, s"${name}_$tag.txt"), txt)
            println(s"[explainall] wrote $name")
          } catch { case e: Throwable =>
            println(s"[explainall] FAILED $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
          }
        }
      case "g_stages" =>
        def t[A](label: String)(f: => A): A = {
          val t0 = System.nanoTime(); val r = f
          println(f"[g] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
        }
        val sf = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
        graft.ops.Graph.edges(spark, sf).explain("formatted")
        t("edges count")(graft.ops.Graph.edges(spark, sf).count())
        t("edges count 2")(graft.ops.Graph.edges(spark, sf).count())
        t("full query")(graft.ops.Graph.gPagerank(spark, sf)
          .write.mode("overwrite").format("noop").save())
        t("full query 2")(graft.ops.Graph.gPagerank(spark, sf)
          .write.mode("overwrite").format("noop").save())
      case "s16_discovery" =>
        def t[A](label: String)(f: => A): A = {
          val t0 = System.nanoTime(); val r = f
          println(f"[s16] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
        }
        val p = graft.sinks.PartitionedTable.writePartitioned(spark, dir)
        def read(): Unit = graft.sinks.PartitionedTable.prunedRead(spark, p)
          .write.mode("overwrite").format("noop").save()
        read() // warm
        (1 to 3).foreach { i => t(s"thr=32 read $i")(read()) }
        spark.conf.set("spark.sql.sources.parallelPartitionDiscovery.threshold", 1024)
        (1 to 3).foreach { i => t(s"thr=1024 read $i")(read()) }
      case "s16_committer" =>
        def t[A](label: String)(f: => A): A = {
          val t0 = System.nanoTime(); val r = f
          println(f"[s16] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
        }
        // warmup
        graft.sinks.PartitionedTable.writePartitioned(spark, dir)
        (1 to 3).foreach { i => t(s"v1 write $i")(
          graft.sinks.PartitionedTable.writePartitioned(spark, dir)) }
        spark.sparkContext.hadoopConfiguration
          .setInt("mapreduce.fileoutputcommitter.algorithm.version", 2)
        (1 to 3).foreach { i => t(s"v2 write $i")(
          graft.sinks.PartitionedTable.writePartitioned(spark, dir)) }
      case "s16_phases" =>
        def t[A](label: String)(f: => A): A = {
          val t0 = System.nanoTime(); val r = f
          println(f"[s16] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
        }
        (1 to 3).foreach { i =>
          val p = t(s"write $i")(graft.sinks.PartitionedTable.writePartitioned(spark, dir))
          t(s"read $i")(graft.sinks.PartitionedTable.prunedRead(spark, p)
            .write.mode("overwrite").format("noop").save())
        }
      case "show" =>
        val name = args(1)
        val sf = if (args.length > 2) args(2) else "/root/testdata/sf0.01"
        val df = graft.SparkEntry.queries(name)(spark, sf)
        df.orderBy(df.columns.map(col).toIndexedSeq: _*).show(50, truncate = false)
      case _ => println(s"unknown probe: $what")
    }
    spark.stop()
  }
}
