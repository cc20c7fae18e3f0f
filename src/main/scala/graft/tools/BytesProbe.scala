package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Read-volume probe for a persisted IVF index (round 16 — VERDICT r15
  * task 2 evidence adjudication): measures what a probed-cell-pruned
  * scan actually reads vs the full scan, with the filter shape the
  * declared keys push (`cell IN (<literals>)`).
  *
  * Meter: the scan node's own SQL metrics after execution —
  * `numFiles` / `filesSize` (file-level selection: partition + bucket
  * pruning) and `numOutputRows` on the scan (rows DECODED after
  * row-group/page skipping — the level where a sortBy(cell) layout
  * pays off), plus wall time. Task `inputMetrics.bytesRead` is NOT
  * used: on this local filesystem with Spark 4's vectorized reader it
  * under-counts by ~100× (measured: a 506 MB full scan reported
  * 2.8 MB — the read path's I/O lands outside the task thread's FS
  * statistics callback), so file/row metrics are the honest axis.
  *
  * Usage: runMain graft.tools.BytesProbe <indexPath> [nCells...]
  */
object BytesProbe {
  def main(args: Array[String]): Unit = {
    val idx = args(0)
    val nCellsSweep = if (args.length > 1) args.drop(1).map(_.toInt).toSeq
                      else Seq(2, 80, 2560)
    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("ERROR")
    sys.env.get("BYTESPROBE_IN_THRESHOLD").foreach(t =>
      spark.conf.set("spark.sql.parquet.pushdown.inFilterThreshold", t))

    def meter(tag: String, df0: DataFrame): Unit = {
      // Force the embedding payload through the reader so column
      // pruning cannot fake a small read. Metrics are read from THIS
      // DataFrame's own executed plan (the action and the metrics
      // must share one QueryExecution).
      val df = df0.select(sum(element_at(col("embedding"), 1)).as("s"),
                          count(lit(1)).as("n"))
      val t0 = System.nanoTime()
      val n = df.collect()(0).getLong(1)
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300)
      // Under AQE the executed scans live inside the adaptive node's
      // final plan, and Spark 4 wraps each materialized stage in a
      // QueryStageExec whose subtree is invisible to collectLeaves —
      // unwrap both layers explicitly.
      def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scansOf(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scansOf(q.plan)
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        case other => other.children.flatMap(scansOf)
      }
      val fin = df.queryExecution.executedPlan
      val scans = scansOf(fin)
      val files = scans.map(_.metrics("numFiles").value).sum
      val size = scans.map(_.metrics("filesSize").value).sum
      val decoded = scans.map(_.metrics("numOutputRows").value).sum
      println(f"BYTESPROBE $tag rows=$n $sec%.1f s " +
        f"files=$files filesSize=${size / 1e6}%.1f MB decodedRows=$decoded")
      if (sys.env.contains("BYTESPROBE_DEBUG"))
        println(s"BYTESPROBE debug fin=${fin.getClass.getSimpleName} " +
          s"leaves=${fin.collectLeaves().map(_.getClass.getSimpleName).mkString(",")} " +
          scans.headOption.map(_.metrics.map { case (k, m) =>
            s"$k=${m.value}" }.mkString(",")).getOrElse("noscan"))
    }
    val cells = spark.read.parquet(idx).select("cell").distinct()
      .orderBy("cell").limit(nCellsSweep.max).collect().map(_.getLong(0))
    meter("full-scan", spark.read.parquet(idx))
    nCellsSweep.foreach { nc =>
      val sel = cells.take(nc).toSeq
      meter(s"pruned-$nc-cells",
        spark.read.parquet(idx).filter(col("cell").isin(sel: _*)))
    }
    val plan = spark.read.parquet(idx)
      .filter(col("cell").isin(cells.take(nCellsSweep.min).toSeq: _*))
      .queryExecution.executedPlan.toString
    println("BYTESPROBE pushed: " + plan.linesIterator
      .filter(_.contains("PushedFilters")).mkString(" | ").take(400))

    // The delete key's layout (llm_sim_topk_ivf_delete): partition
    // dirs by cell-group — file-level pruning ∝ probed groups, the
    // grain hash-bucketing cannot give (its files hold hash-scattered
    // cells, so only narrow probe sets page-prune). Rewrite the index
    // in that layout and sweep pgrp+cell filters.
    val pidx = idx + "_pgrp"
    if (!new java.io.File(pidx).exists())
      spark.read.parquet(idx)
        .withColumn("pgrp", graft.ops.Pipelines32.pgrpOf(col("cell")))
        .repartitionByRange(col("pgrp"), col("cell"))
        .sortWithinPartitions("cell")
        .write.partitionBy("pgrp").parquet(pidx)
    meter("pgrp-full-scan", spark.read.parquet(pidx))
    nCellsSweep.foreach { nc =>
      val sel = cells.take(nc).toSeq
      val grps = spark.range(1)
        .select(explode(lit(sel.toArray)).as("cell"))
        .select(graft.ops.Pipelines32.pgrpOf(col("cell")))
        .distinct().collect().map(_.getLong(0)).toSeq
      meter(s"pgrp-pruned-$nc-cells-${grps.size}-groups",
        spark.read.parquet(pidx)
          .filter(col("pgrp").isin(grps: _*) && col("cell").isin(sel: _*)))
    }

    // Range-clustered write tasks (repartitionByRange on cell before
    // the write): each file covers a NARROW contiguous cell range, so
    // row-group min/max stats prune for any In size — the geometry
    // hash-scattered bucket files cannot give.
    val ridx = idx + "_range"
    if (!new java.io.File(ridx).exists())
      spark.read.parquet(idx)
        .repartitionByRange(32, col("cell")).sortWithinPartitions("cell")
        .write.parquet(ridx)
    meter("range-full-scan", spark.read.parquet(ridx))
    nCellsSweep.foreach { nc =>
      val sel = cells.take(nc).toSeq
      meter(s"range-pruned-$nc-cells",
        spark.read.parquet(ridx).filter(col("cell").isin(sel: _*)))
    }
    spark.stop()
  }
}
