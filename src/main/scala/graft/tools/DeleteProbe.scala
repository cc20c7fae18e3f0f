package graft.tools


/** Delete-lifecycle probe at corpus scale (round 16, re-based round 17
  * on the shared lifecycle artifact — evidence behind
  * `llm_sim_topk_ivf_delete`): runs the DECLARED key verbatim against
  * a large embeddings dir, then audits the copy-on-write layout it
  * left behind:
  *
  *  - the SHARED segments must be byte-untouched (deletes are
  *    metadata + COW rewrites beside the index, never mutations of
  *    it) — checked by mtime: no shared file may postdate the
  *    tombstone write;
  *  - the compact root must hold exactly the affected cell-group
  *    partitions' survivors ("rewrites ONLY the affected dirs");
  *  - (round 18) the compacted view is served from the PERSISTED
  *    manifest the key wrote, never from in-memory state — the probe
  *    prints the manifest path so a SECOND APPLICATION can be run as
  *    `DeleteProbe manifest=<path> [tomb=<path>]` and serve the same
  *    compacted view from the manifest alone (VERDICT r17 task 4's
  *    done-condition).
  *
  * A second, NARROW delete (the realistic takedown shape: one source
  * = few clusters = few cells — the declared key's %50 batch is
  * isotropic and touches every group by construction) measures
  * compaction cost ∝ the delete's cell footprint: tombstone ALL rows
  * of the 10 smallest cells and COW-rewrite their ≤ 10 groups.
  *
  * Usage: runMain graft.tools.DeleteProbe <dir>
  *        runMain graft.tools.DeleteProbe manifest=<path> [tomb=<path>]
  */
object DeleteProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("ERROR")
    import org.apache.spark.sql.functions._

    // ---- SECOND-APPLICATION mode: reconstruct the compacted view
    // from the persisted manifest alone — no Shared handle, no
    // in-memory `affected`, no rebuild. ----
    val manifestArg = args.collectFirst {
      case a if a.startsWith("manifest=") => a.stripPrefix("manifest=") }
    if (manifestArg.isDefined) {
      val mpath = manifestArg.get
      val t0 = System.nanoTime()
      val view = graft.ops.IvfLifecycle
        .compactedViewFromManifest(spark, mpath)
      val n = view.count()
      val sec = (System.nanoTime() - t0) / 1e9
      val remaining = args.collectFirst {
        case a if a.startsWith("tomb=") => a.stripPrefix("tomb=") }
        .map { tpath =>
          val tomb = spark.read.parquet(tpath).select("vec_id")
          view.join(tomb, Seq("vec_id"), "left_semi").count().toString
        }.getOrElse("(no tomb= given)")
      println(f"DELETEPROBE second-app manifest read: $n rows in " +
        f"$sec%.1f s from $mpath, tombstoned remaining: $remaining")
      spark.stop()
      sys.exit(0)
    }

    val dir = args(0)
    val t0 = System.nanoTime()
    val out = graft.SparkEntry.queries("llm_sim_topk_ivf_delete")(spark, dir)
    val rows = out.count()
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"DELETEPROBE full lifecycle $sec%.1f s, $rows output rows")

    val sh = graft.ops.IvfLifecycle.resolve(spark, dir)
    val stem = graft.ops.Sinks.sinkRoot(spark) + "/" +
      graft.ops.Pipelines31.ident(spark, "graft_ivf_index_del", dir)
    def newest(f: java.io.File): Long =
      graft.ops.Pipelines31.newestMtime(f)
    def groupDirs(root: String): Seq[java.io.File] =
      Option(new java.io.File(root).listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith("pgrp="))
    val tombNewest = newest(new java.io.File(stem + "_tomb"))
    val sharedTouched =
      (groupDirs(sh.baseRoot) ++ groupDirs(sh.deltaRoot))
        .count(d => newest(d) > tombNewest)
    val tomb = spark.read.parquet(stem + "_tomb")
    val affected = tomb.select("pgrp").distinct().count()
    val cowDirs = groupDirs(stem + "_compact")
    println(f"DELETEPROBE layout: ${groupDirs(sh.baseRoot).size} shared " +
      f"cell-group dirs, $affected affected by ${tomb.count()} " +
      f"tombstones -> ${cowDirs.size} dirs COW-written " +
      f"(claim: written == affected), $sharedTouched shared dirs " +
      "modified (claim: 0 — the artifact is immutable)")
    // The compacted view, served from the manifest the DECLARED key
    // persisted — the read path any later application uses.
    val compactedView = graft.ops.IvfLifecycle
      .compactedViewFromManifest(spark, stem + "_manifest")
    println(f"DELETEPROBE compacted view: ${compactedView.count()} rows, " +
      "tombstoned remaining: " +
      compactedView.join(tomb.select("vec_id"), Seq("vec_id"), "left_semi")
        .count() +
      s" (from persisted manifest; second-app cmd: DeleteProbe " +
      s"manifest=${stem}_manifest tomb=${stem}_tomb)")

    // NARROW delete: cost ∝ the takedown's cell footprint.
    val full = sh.fullIndex(spark)
    val tenCells = full.select("cell").distinct().orderBy("cell")
      .limit(10).collect().map(_.getLong(0)).toSeq
    val t1 = System.nanoTime()
    val tomb2 = full.filter(col("cell").isin(tenCells: _*))
      .select("vec_id", "cell", "pgrp")
      .localCheckpoint()
    val affected2 = tomb2.select("pgrp").distinct()
      .collect().map(_.getLong(0)).sorted
    val narrowRoot = stem + "_compact_narrow"
    full.filter(col("pgrp").isin(affected2: _*))
      .join(tomb2.select("vec_id"), Seq("vec_id"), "left_anti")
      .repartitionByRange(col("pgrp"), col("cell"))
      .sortWithinPartitions("cell")
      .write.mode("overwrite").partitionBy("pgrp").parquet(narrowRoot)
    val sec2 = (System.nanoTime() - t1) / 1e9
    val written2 = groupDirs(narrowRoot)
    println(f"DELETEPROBE narrow delete: ${tomb2.count()} rows in " +
      f"${tenCells.size} cells -> ${affected2.length} affected groups, " +
      f"COW compaction $sec2%.1f s wrote ${written2.size}/" +
      f"${groupDirs(sh.baseRoot).size} dirs " +
      f"(${written2.map(_.getName).sorted.mkString(",")})")
    graft.ops.IvfLifecycle.writeCompactionManifest(spark, sh, narrowRoot,
      affected2.toSeq, narrowRoot + "_manifest")
    val narrowView = graft.ops.IvfLifecycle
      .compactedViewFromManifest(spark, narrowRoot + "_manifest")
    println(f"DELETEPROBE narrow survivors: ${narrowView.count()} rows, " +
      "tombstoned remaining: " +
      narrowView.join(tomb2.select("vec_id"), Seq("vec_id"), "left_semi")
        .count())
    spark.stop()
  }
}
