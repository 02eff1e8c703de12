package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Scratch
import graft.tables.Tables

/** SURVEY §2.1 capability notes, exercised: partitioned writes with
  * partition pruning on read-back, schema merge across evolving files,
  * and compression codecs. These are the lake-maintenance surfaces a
  * 100 TB deployment leans on (hive-style partition dirs ARE the coarse
  * index; codec choice is a storage/scan tradeoff).
  */
class SinkCapabilitySuite extends AnyFunSuite {

  private lazy val s = TestSpark.spark

  test("partitionBy write creates hive-style dirs and read-back prunes partitions") {
    val dir = Files.createTempDirectory("graft_sink_part_").toString
    val orders = Tables.orders(s, TestSpark.Sf0001)
    orders.write.mode("overwrite")
      .partitionBy("o_orderstatus").parquet(dir)

    val statuses = new java.io.File(dir).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(statuses.forall(_.startsWith("o_orderstatus=")))

    val back = s.read.parquet(dir)
    assert(back.count() == orders.count())
    // partition pruning: a status filter must actually scan only that
    // partition's files (input_file_name reflects the executed scan;
    // DataFrame.inputFiles would list every partition pre-pruning)
    val fFiles = back.filter(col("o_orderstatus") === "F")
      .select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(fFiles.nonEmpty && fFiles.forall(_.contains("o_orderstatus=F")))
  }

  test("sink_clustered_prune: range-clustered files are skippable and the predicate is pushed") {
    // build the op once (writes the clustered layout), then audit the
    // LAYOUT it promised: parquet footer min/max on o_totalprice must be
    // near-disjoint across files, so the graded price band [100k,110k)
    // intersects at most 2 of the 8 files — the skipping a 100 TB reader
    // does from statistics alone, proven from the footers it would use
    val df = SparkEntry.queries("sink_clustered_prune")(s, TestSpark.Sf0001)
    df.collect() // ensure the write ran
    val dir = new java.io.File(Scratch.perCall(s, "sink_cluster") + "/orders_by_price")
    val parts = dir.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(parts.length >= 4, s"expected multiple clustered files, got ${parts.length}")
    val conf = s.sparkContext.hadoopConfiguration
    val ranges = parts.toSeq.map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val blocks = reader.getFooter.getBlocks
        val stats = (0 until blocks.size()).map { i =>
          blocks.get(i).getColumns.asScala
            .find(_.getPath.toDotString == "o_totalprice").get.getStatistics
        }
        (stats.map(_.genericGetMin.asInstanceOf[Double]).min,
          stats.map(_.genericGetMax.asInstanceOf[Double]).max)
      } finally reader.close()
    }
    // clustered layout: file ranges must be (near-)disjoint, and the
    // graded band must touch at most 2 files (one + a boundary neighbor)
    val touching = ranges.count { case (lo, hi) => hi >= 100000.0 && lo < 110000.0 }
    assert(touching <= 2,
      s"price band touches $touching of ${ranges.size} files — layout not clustered: $ranges")
    // and the read-back predicate reaches the scan as PushedFilters
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val pushed = "PushedFilters: \\[([^\\]]*)\\]".r.findFirstMatchIn(p).map(_.group(1))
    assert(pushed.exists(_.contains("o_totalprice")),
      s"price predicate not pushed to the clustered scan:\n$p")
  }

  test("sink_stats_index: index matches footers; graded scan opens only surviving files") {
    val df = SparkEntry.queries("sink_stats_index")(s, TestSpark.Sf0001)
    df.collect() // ensure the rewrite + index build ran
    val root = Scratch.shared(s, TestSpark.Sf0001, "stats_index")
    val stats = s.read.parquet(s"$root/stats")
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getLong(3)))).toMap
    assert(stats.size >= 4, s"expected one stats row per clustered file: ${stats.size}")
    // the index must agree with the parquet footers a statistics reader
    // would consult — min/max per file, byte-for-byte
    val conf = s.sparkContext.hadoopConfiguration
    stats.foreach { case (path, (mn, mx, nRows)) =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val blocks = reader.getFooter.getBlocks
        val cst = (0 until blocks.size()).map { i =>
          blocks.get(i).getColumns.asScala
            .find(_.getPath.toDotString == "o_totalprice").get.getStatistics
        }
        assert(cst.map(_.genericGetMin.asInstanceOf[Double]).min == mn
            && cst.map(_.genericGetMax.asInstanceOf[Double]).max == mx,
          s"stats index diverged from footer for $path")
        assert((0 until blocks.size()).map(blocks.get(_).getRowCount).sum == nRows,
          s"stats row count diverged from footer for $path")
      } finally reader.close()
    }
    // the graded band must survive in at most 2 of the files, and the
    // graded plan must open EXACTLY the surviving files (plus the index)
    val survivors = stats.filter { case (_, (mn, mx, _)) =>
      mx >= 200000.0 && mn < 210000.0
    }.keySet
    assert(survivors.nonEmpty && survivors.size <= 2,
      s"band should survive 1-2 of ${stats.size} files, got ${survivors.size}")
    val scanned = df.inputFiles.filter(_.contains("orders_by_price")).toSet
    assert(scanned.map(_.replaceFirst("^file:/+", "/"))
        == survivors.map(_.replaceFirst("^file:/+", "/")),
      s"graded scan opened $scanned, index says $survivors")
  }

  test("sink_bloom_index: selective, zero false negatives, scan opens only survivors") {
    val df = SparkEntry.queries("sink_bloom_index")(s, TestSpark.Sf0001)
    df.collect() // ensure the rewrite + bloom build ran
    val surv = graft.ops.Relational.bloomSurvivors(s, TestSpark.Sf0001)
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val byKey = surv.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byKey.nonEmpty, "no probe keys at sf0.001 — fixture drifted")
    // ground truth: the file that actually holds each probe key
    val root = Scratch.shared(s, TestSpark.Sf0001, "clustered_orders")
    val truth = s.read.parquet(s"$root/orders_by_price")
      .filter(col("o_orderkey") % 2500 === 0)
      .select(col("o_orderkey"), col("_metadata.file_path"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    truth.foreach { case (k, f) =>
      assert(byKey(k).contains(f),
        s"FALSE NEGATIVE: key $k lives in $f but bloom pruned it")
      assert(byKey(k).size <= 2,
        s"key $k survives ${byKey(k).size} of 8 files — bloom not selective")
    }
    // the graded scan must open no file outside the surviving union
    val union = byKey.values.flatten.toSet.map((p: String) =>
      p.replaceFirst("^file:/+", "/"))
    val scanned = df.inputFiles.filter(_.contains("orders_by_price"))
      .map(_.replaceFirst("^file:/+", "/")).toSet
    assert(scanned.subsetOf(union) && scanned.nonEmpty,
      s"graded scan opened $scanned, bloom allows only $union")
  }

  test("sink_concurrent_commit: CAS log holds one serial history, stage dirs cleaned") {
    val rows = SparkEntry.queries("sink_concurrent_commit")(s, TestSpark.Sf0001).collect()
    // the graded columns carry the protocol outcome: one real conflict
    assert(rows.forall(_.getLong(4) == 1L), "writer B's v1 CAS must have failed once")
    assert(rows.forall(_.getLong(3) == 3L), "expected exactly v0..v2 commits")
    val root = new java.io.File(Scratch.shared(s, TestSpark.Sf0001, "occ_commit"))
    assert(new java.io.File(root, "_commits").list().sorted.toSeq
        == Seq("v0", "v1", "v2"), "marker log must hold the serial history")
    assert(new java.io.File(root, "delta_v1").isDirectory
        && new java.io.File(root, "delta_v2").isDirectory,
      "every marker's data must have been renamed in")
    assert(!root.list().exists(_.startsWith("_staged")),
      "loser's staged data must be cleaned up")
    // the CAS is final: any later claim on a committed version must fail
    assert(!new java.io.File(root, "_commits/v1").createNewFile(),
      "a second v1 claim must lose")
  }

  test("sink_snapshot_expire: expired version unreadable, latest byte-identical") {
    SparkEntry.queries("sink_snapshot_expire")(s, TestSpark.Sf0001).collect()
    val p = graft.ops.Relational.expiredLog(s, TestSpark.Sf0001)
    // files only expired versions referenced are physically gone; the
    // retained window's serving artifacts remain
    assert(!new java.io.File(s"$p/base").exists, "expired base must be deleted")
    assert(!new java.io.File(s"$p/delta_v1").exists,
      "checkpoint-absorbed delta must be deleted")
    assert(new java.io.File(s"$p/checkpoint_v1").isDirectory
      && new java.io.File(s"$p/delta_v2").isDirectory)
    assert(new java.io.File(s"$p/_commits").list().sorted.toSeq == Seq("v1", "v2"),
      "only the retained markers may survive expiry")
    // reading the expired version fails LOUDLY, never silently-empty
    intercept[org.apache.spark.sql.AnalysisException] {
      s.read.parquet(s"$p/base").collect()
    }
    // the latest read is byte-identical to the witness persisted
    // before any deletion: expiry changed history, not the present
    val pre = s.read.parquet(s"$p/pre_expire")
    val post = graft.ops.Relational.expireLatestRead(s, TestSpark.Sf0001)
    assert(post.exceptAll(pre).isEmpty && pre.exceptAll(post).isEmpty,
      "post-expire latest read diverged from the pre-expire witness")
  }

  test("sink_write_audit_publish: quarantine holds only violators, delta none") {
    SparkEntry.queries("sink_write_audit_publish")(s, TestSpark.Sf0001).collect()
    val (p, nStaged, nBad, nClean) =
      graft.ops.Relational.wapLog(s, TestSpark.Sf0001)
    assert(nStaged == nBad + nClean && nBad > 0 && nClean > 0)
    import org.apache.spark.sql.functions.col
    val quarantined = s.read.parquet(s"$p/quarantine")
    assert(quarantined.filter(col("segment").isNotNull && col("bal") >= 0).count() == 0,
      "quarantine must hold only contract violators")
    val published = s.read.parquet(s"$p/delta_v1")
    assert(published.filter(col("segment").isNull || col("bal") < 0).count() == 0,
      "published delta must hold zero violators")
    assert(new java.io.File(s"$p/_commits/v1").exists, "publish marker missing")
    // the audit split is a PARTITION of the staged batch
    assert(quarantined.count() == nBad && published.count() == nClean)
  }

  test("merge_upsert_evolve: base footer stays narrow, merged read NULL-fills old rows") {
    SparkEntry.queries("merge_upsert_evolve")(s, TestSpark.Sf0001).collect()
    val p = graft.ops.Relational.mergeEvolveLog(s, TestSpark.Sf0001)
    // the evolution claim: the PRE-MERGE files were never rewritten —
    // their parquet footers must not know the new column
    val baseFiles = new java.io.File(s"$p/table").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .map(_.getPath)
    val narrow = baseFiles.filter(f =>
      !s.read.parquet(f).schema.fieldNames.contains("channel"))
    val wide = baseFiles.filter(f =>
      s.read.parquet(f).schema.fieldNames.contains("channel"))
    assert(narrow.nonEmpty && wide.nonEmpty,
      "expected both pre-evolution (narrow) and post-evolution (wide) files in one table dir")
    val merged = s.read.option("mergeSchema", "true").parquet(s"$p/table")
    assert(merged.schema.fieldNames.contains("channel"))
    // every untouched pre-merge row reads the new column as NULL; every
    // batch row carries it
    assert(merged.filter(col("seq") === 0 && col("channel").isNotNull).count() == 0,
      "pre-evolution rows must NULL-fill the new column")
    assert(merged.filter(col("seq") === 1 && col("channel").isNull).count() == 0,
      "merge-batch rows must all carry the new column")
  }

  test("sink_orphan_cleanup: manifest readers immune, directory hygiene restored") {
    SparkEntry.queries("sink_orphan_cleanup")(s, TestSpark.Sf0001).collect()
    val (p, _, _, _) = graft.ops.Relational.orphanCleanup(s, TestSpark.Sf0001)
    val names = new java.io.File(s"$p/data").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).toSet
    val manifest = s.read.parquet(s"$p/manifest")
      .collect().map(_.getString(0)).toSet
    assert(names == manifest, "directory must hold exactly the registered files")
    // re-plant an orphan: the naive dir reader overcounts while the
    // manifest reader is immune — the hazard the cleanup removes
    val src = manifest.head
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$p/data/$src"),
      java.nio.file.Paths.get(s"$p/data/orphan_replant.parquet"))
    try {
      val dirRows = s.read.parquet(s"$p/data").count()
      val manifestRows = s.read.parquet(
        manifest.toSeq.sorted.map(f => s"$p/data/$f"): _*).count()
      assert(dirRows > manifestRows,
        "orphan must inflate the naive directory read")
    } finally {
      java.nio.file.Files.delete(
        java.nio.file.Paths.get(s"$p/data/orphan_replant.parquet"))
    }
  }

  test("sink_branch_merge: branch ref survives publish, markers final") {
    SparkEntry.queries("sink_branch_merge")(s, TestSpark.Sf0001).collect()
    val (p, overlap) = graft.ops.Relational.branchLog(s, TestSpark.Sf0001)
    assert(overlap == 0L)
    // publish COPIES the branch delta into main; the ref stays alive
    // (Iceberg drops refs explicitly, never on publish)
    assert(new java.io.File(s"$p/branches/dev/b1").isDirectory,
      "branch ref must survive the publish")
    assert(new java.io.File(s"$p/delta_v2").isDirectory,
      "publish must have landed the branch delta as main v2")
    assert(new java.io.File(s"$p/_commits").list().sorted.toSeq
      == Seq("v0", "v1", "v2"))
    // marker CAS finality: a second v2 claim must lose
    assert(!new java.io.File(s"$p/_commits/v2").createNewFile(),
      "a second v2 claim must lose")
  }

  test("sink_partition_evolution: each generation prunes by its own spec") {
    // df.inputFiles reports the UNPRUNED listing, so the evidence is the
    // executed scans' numFiles metric: after partition pruning, each
    // generation's scan must read exactly the files its spec allows
    val df = SparkEntry.queries("sink_partition_evolution")(s, TestSpark.Sf0001)
    df.collect() // executes both pruned scans; metrics are now populated
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case o => o.children.flatMap(scans)
    }
    val byGen = scans(df.queryExecution.executedPlan).map { f =>
      val root = f.relation.location.rootPaths.head.toString
      val gen = if (root.contains("gen1")) "gen1" else "gen2"
      gen -> f.metrics("numFiles").value
    }.toMap
    assert(byGen.keySet == Set("gen1", "gen2"),
      s"window must straddle the evolution point, got scans: $byGen")
    val root = Scratch.shared(s, TestSpark.Sf0001, "part_evo")
    def filesUnder(sub: String): Long =
      Option(new java.io.File(s"$root/$sub").listFiles()).map(
        _.count(_.getName.endsWith(".parquet")).toLong).getOrElse(0L)
    // old spec: only the y=1997 dir is listed (months row-filter inside)
    assert(byGen("gen1") == filesUnder("gen1/y=1997") && byGen("gen1") > 0,
      s"gen1 read ${byGen("gen1")} files, y=1997 holds ${filesUnder("gen1/y=1997")}")
    // evolved spec: only 1998's Jan+Feb dirs are listed
    val g2Expected = filesUnder("gen2/y=1998/m=1") + filesUnder("gen2/y=1998/m=2")
    assert(byGen("gen2") == g2Expected && byGen("gen2") > 0,
      s"gen2 read ${byGen("gen2")} files, m=1+m=2 hold $g2Expected")
  }

  test("sink_zorder_prune: every file bounds BOTH dimensions; 2-D band prunes files") {
    // the property a 1-D sort cannot deliver: after the z-order rewrite,
    // (almost) every file's footer min/max is sub-domain in BOTH
    // o_custkey and o_totalprice, so a conjunctive 2-D predicate prunes
    // from statistics on both columns at once. (One boundary file may
    // span wide where the 8 equal-count chunks cut across a Z-curve
    // fold — inherent to Morton order, not a layout bug.)
    SparkEntry.queries("sink_zorder_prune")(s, TestSpark.Sf0001).collect()
    val dir = new java.io.File(Scratch.perCall(s, "sink_zorder") + "/orders_zorder")
    val parts = dir.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(parts.length >= 4)
    val conf = s.sparkContext.hadoopConfiguration
    def colRange(f: java.io.File, name: String): (Double, Double) = {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val stats = reader.getFooter.getBlocks.asScala
          .map(_.getColumns.asScala.find(_.getPath.toDotString == name).get.getStatistics)
        (stats.map(_.genericGetMin.toString.toDouble).min,
          stats.map(_.genericGetMax.toString.toDouble).max)
      } finally reader.close()
    }
    val ranges = parts.toSeq.map(f => (colRange(f, "o_custkey"), colRange(f, "o_totalprice")))
    val ckDomain = (ranges.map(_._1._1).min, ranges.map(_._1._2).max)
    val pDomain = (ranges.map(_._2._1).min, ranges.map(_._2._2).max)
    def span(r: (Double, Double), d: (Double, Double)) = (r._2 - r._1) / (d._2 - d._1)
    val bounded = ranges.count { case (ck, p) =>
      span(ck, ckDomain) <= 0.65 && span(p, pDomain) <= 0.65
    }
    assert(bounded >= parts.length - 2,
      s"z-order should bound both dims in nearly every file: $ranges")
    val touching = ranges.count { case ((ckLo, ckHi), (pLo, pHi)) =>
      ckHi >= 100 && ckLo <= 600 && pHi >= 100000.0 && pLo < 200000.0
    }
    assert(touching <= parts.length / 2,
      s"2-D band touches $touching of ${parts.length} files: $ranges")
  }

  test("sink_hilbert_prune: every file bounds BOTH dimensions; 2-D band prunes files") {
    // same footer audit as zorder; Hilbert's unit-step adjacency means
    // a key range is a compact blob, so no file needs the boundary-file
    // exemption Morton's quadrant folds require
    SparkEntry.queries("sink_hilbert_prune")(s, TestSpark.Sf0001).collect()
    val dir = new java.io.File(Scratch.perCall(s, "sink_hilbert") + "/orders_hilbert")
    val parts = dir.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(parts.length >= 4)
    val conf = s.sparkContext.hadoopConfiguration
    def colRange(f: java.io.File, name: String): (Double, Double) = {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val stats = reader.getFooter.getBlocks.asScala
          .map(_.getColumns.asScala.find(_.getPath.toDotString == name).get.getStatistics)
        (stats.map(_.genericGetMin.toString.toDouble).min,
          stats.map(_.genericGetMax.toString.toDouble).max)
      } finally reader.close()
    }
    val ranges = parts.toSeq.map(f => (colRange(f, "o_custkey"), colRange(f, "o_totalprice")))
    val ckDomain = (ranges.map(_._1._1).min, ranges.map(_._1._2).max)
    val pDomain = (ranges.map(_._2._1).min, ranges.map(_._2._2).max)
    def span(r: (Double, Double), d: (Double, Double)) = (r._2 - r._1) / (d._2 - d._1)
    val bounded = ranges.count { case (ck, p) =>
      span(ck, ckDomain) <= 0.65 && span(p, pDomain) <= 0.65
    }
    assert(bounded >= parts.length - 2,
      s"hilbert should bound both dims in nearly every file: $ranges")
    val touching = ranges.count { case ((ckLo, ckHi), (pLo, pHi)) =>
      ckHi >= 100 && ckLo <= 600 && pHi >= 100000.0 && pLo < 200000.0
    }
    assert(touching <= parts.length / 2,
      s"2-D band touches $touching of ${parts.length} files: $ranges")
  }

  test("mergeSchema unions evolving file schemas") {
    val dir = Files.createTempDirectory("graft_sink_merge_").toString
    import s.implicits._
    Seq((1L, "x")).toDF("id", "b").write.parquet(s"$dir/v1")
    Seq((2L, 3.5)).toDF("id", "c").write.parquet(s"$dir/v2")
    val merged = s.read.option("mergeSchema", "true")
      .parquet(s"$dir/v1", s"$dir/v2")
    assert(merged.columns.sorted.toSeq == Seq("b", "c", "id"))
    assert(merged.count() == 2)
  }

  /** Small-files compaction — the standing lake-maintenance job at
    * 100 TB (streaming sinks and per-task writers fragment tables;
    * scan cost is dominated by file count once files drop under the
    * row-group size). Rewrite must change layout ONLY.
    */
  test("compaction rewrites many small files into few, data identical") {
    val frag = Files.createTempDirectory("graft_sink_frag_").toString
    val compact = Files.createTempDirectory("graft_sink_compact_").toString
    val orders = Tables.orders(s, TestSpark.Sf0001)
    orders.write.mode("overwrite").parquet(frag + "/t")
    s.read.parquet(frag + "/t").repartition(32)
      .write.mode("overwrite").parquet(frag + "/t32")
    def files(d: String) = new java.io.File(d).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(files(frag + "/t32") == 32)

    s.read.parquet(frag + "/t32").repartition(2)
      .write.mode("overwrite").parquet(compact + "/t2")
    assert(files(compact + "/t2") == 2)
    val before = s.read.parquet(frag + "/t32")
      .orderBy("o_orderkey").collect().toSeq
    val after = s.read.parquet(compact + "/t2")
      .orderBy("o_orderkey").collect().toSeq
    assert(after == before)
  }

  /** Backs llm_multimodal_join's co-partitioning note: bucketing both
    * lakes on the join id makes the id-equi-join shuffle-free. Broadcast
    * is disabled for the check so the planner can't sidestep the claim —
    * the joint must be a sort-merge join with NO Exchange on either side.
    */
  test("bucketed write + read-back joins with no shuffle exchange") {
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val prev = s.conf.get(thresholdKey)
    s.conf.set(thresholdKey, "-1")
    try {
      Tables.documents(s, TestSpark.Sf0001)
        .write.mode("overwrite").bucketBy(4, "doc_id").sortBy("doc_id")
        .saveAsTable("graft_docs_bucketed")
      Tables.embeddings(s, TestSpark.Sf0001)
        .write.mode("overwrite").bucketBy(4, "vec_id").sortBy("vec_id")
        .saveAsTable("graft_emb_bucketed")
      val joined = s.table("graft_docs_bucketed")
        .join(s.table("graft_emb_bucketed"), col("doc_id") === col("vec_id"))
      val plan = joined.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
      // and it is the same join llm_multimodal_join computes
      assert(joined.count() ==
        graft.ops.LlmOps.llmMultimodalJoin.build(s, TestSpark.Sf0001).count())
    } finally {
      s.conf.set(thresholdKey, prev)
      s.sql("DROP TABLE IF EXISTS graft_docs_bucketed")
      s.sql("DROP TABLE IF EXISTS graft_emb_bucketed")
    }
  }

  test("compression codecs round-trip identically (snappy, zstd, gzip)") {
    val dir = Files.createTempDirectory("graft_sink_codec_").toString
    val src = Tables.nation(s, TestSpark.Sf0001)
    val expected = src.orderBy("n_nationkey").collect().toSeq
    Seq("snappy", "zstd", "gzip").foreach { codec =>
      src.write.mode("overwrite")
        .option("compression", codec).parquet(s"$dir/$codec")
      val back = s.read.parquet(s"$dir/$codec").orderBy("n_nationkey").collect().toSeq
      assert(back == expected, s"codec $codec")
      val ext = if (codec == "gzip") "gz" else codec
      val files = new java.io.File(s"$dir/$codec").listFiles()
        .map(_.getName).filter(_.endsWith(".parquet"))
      assert(files.forall(_.contains(s".$ext.")), s"codec $codec file naming")
    }
  }

  test("sink_time_travel: version 2 snapshot equals sink_merge_on_read's final fold") {
    val tt = graft.ops.Relational.sinkTimeTravel.build(s, TestSpark.Sf0001)
      .filter(col("version") === 2)
      .select("status", "n", "total_price", "min_key", "max_key")
      .orderBy("status").collect().toSeq
    val mor = graft.ops.Relational.sinkMergeOnRead.build(s, TestSpark.Sf0001)
      .select("status", "n", "total_price", "min_key", "max_key")
      .orderBy("status").collect().toSeq
    assert(tt == mor, "latest time-travel snapshot must equal the MOR fold")
  }

  test("sink_time_travel: version 0 is the untouched base snapshot") {
    val v0 = graft.ops.Relational.sinkTimeTravel.build(s, TestSpark.Sf0001)
      .filter(col("version") === 0)
      .agg(sum("n")).collect()(0).getLong(0)
    val nOrders = Tables.orders(s, TestSpark.Sf0001).count()
    assert(v0 == nOrders, "version 0 must contain every base row, no deltas")
  }

  test("sink_compact_rewrite: compacted table re-folds to itself (fold idempotence)") {
    // run the op once so the compacted parquet exists, then prove the
    // compacted table is a fixed point: folding it AGAIN as a base with
    // zero deltas and re-aggregating reproduces the graded output
    val graded = graft.ops.Relational.sinkCompactRewrite.build(s, TestSpark.Sf0001)
      .collect().toSeq
    val tmp = Scratch.perCall(s, "sink_compact")
    val again = s.read.parquet(s"$tmp/compacted")
      .groupBy(col("status"), (col("o_orderkey") % 3).as("shard"))
      .agg(count(lit(1)).as("n"),
        sum(col("price").cast(org.apache.spark.sql.types.DecimalType(12, 2)))
          .cast(org.apache.spark.sql.types.DoubleType).as("total_price"),
        max("o_orderkey").as("max_key"))
      .orderBy("status", "shard").collect().toSeq
    assert(again == graded)
  }

  test("sink_column_stats_history: every status in the MOR log is one ASCII char") {
    // the op folds min/max(status) through ascii()/char(), which keeps
    // only a string's first character (mod 256): a longer or non-ASCII
    // status would corrupt min_str/max_str without any error
    SparkEntry.queries("sink_column_stats_history")(s, TestSpark.Sf0001).collect()
    val log = Scratch.shared(s, TestSpark.Sf0001, "mor_log")
    val statuses = s.read.parquet(s"$log/base").select("status")
      .union(s.read.parquet(s"$log/delta").select("status"))
      .distinct().collect().map(_.getString(0)).toSet
    val fixture = Tables.orders(s, TestSpark.Sf0001).select("o_orderstatus")
      .distinct().collect().map(_.getString(0)).toSet
    assert(statuses == fixture + "N", s"log statuses $statuses")
    statuses.foreach(st => assert(st.length == 1 && st.head < 128, s"status '$st'"))
  }
}
