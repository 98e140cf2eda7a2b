package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.cdm.CsvCast
import graft.ops.MergeKey
import graft.pipeline.{CdcPipeline, Retry, StreamSpec}
import graft.sources.SynapseCdmLayout
import graft.tables.{DeltaExport, IcebergExport, SnapshotTable}
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler._
import org.apache.spark.sql.perfbench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A timed call into one engine layer. Spans of one folder share `folder`. */
final case class Span(id: Int, name: String, parent: Int, folder: String,
    startNs: Long, startMs: Long) {
  var endNs = 0L
  var endMs = 0L
  var fsBytesRead = 0L    // bytes read through the local file system while the span ran
  def ms: Double = (endNs - startNs) / 1e6
}

/** What Spark did for one span: its jobs, their task IO, and the planning
  * phases and operator metrics of its SQL executions. */
final class Work {
  var jobs = 0
  var inputBytes = 0L
  var outputBytes = 0L
  var shuffleBytes = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  var analysisMs = 0.0
  var planningMs = 0.0
  var scanRows = 0L
  var scanFiles = 0L
  var dedupRowsOut = 0L
  var dedupShuffleBytes = 0L
  var dedupAggMs = 0L
}

/** Spans kept in memory; each sets its own Spark job group so the
  * listener can charge jobs, tasks and SQL executions to it. */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  var folder = ""
  private val work = mutable.Map.empty[Int, Work]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val jobSpan = mutable.Map.empty[Int, (Int, Long)]
  private val execSpan = mutable.Map.empty[Long, Int]
  private val executions = mutable.ArrayBuffer.empty[(Long, org.apache.spark.sql.execution.QueryExecution)]
  private val Prefix = "perfbench-span-"
  private val GroupKeys = Seq("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")

  def workOf(s: Span): Work = synchronized(work.getOrElseUpdate(s.id, new Work))

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), folder,
      System.nanoTime(), System.currentTimeMillis())
    spans += s
    val saved = GroupKeys.map(k => k -> sc.getLocalProperty(k))
    sc.setJobGroup(Prefix + s.id, name)
    stack = s :: stack
    val read0 = Tracer.fsBytesRead()
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      s.fsBytesRead = Tracer.fsBytesRead() - read0
      stack = stack.tail
      saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).filter(_.startsWith(Prefix))
      .foreach { g =>
        val id = g.stripPrefix(Prefix).toInt
        jobSpan(e.jobId) = (id, e.time)
        e.stageIds.foreach(stageSpan(_) = id)
        props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .foreach(x => execSpan(x.toLong) = id)
        work.getOrElseUpdate(id, new Work).jobs += 1
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.get(e.jobId).foreach { case (id, t0) => work(id).jobIntervals += ((t0, e.time)) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (id <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      val w = work(id)
      w.inputBytes += m.inputMetrics.bytesRead
      w.outputBytes += m.outputMetrics.bytesWritten
      w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit =
    Bus.sqlEnd(e).foreach(x => synchronized(executions += x))

  /** Drain the bus, then charge each finished SQL execution to its span. */
  def settle(): Unit = {
    Bus.drain(sc)
    synchronized {
      for ((execId, qe) <- executions; id <- execSpan.get(execId)) {
        val w = work.getOrElseUpdate(id, new Work)
        val phases = qe.tracker.phases
        w.analysisMs += phases.get("analysis").map(_.durationMs.toDouble).getOrElse(0.0)
        w.planningMs += Seq("optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
        Tracer.nodes(qe.executedPlan).foreach { n =>
          def metric(k: String) = n.metrics.get(k).map(_.value).getOrElse(0L)
          val desc = n.simpleString(400)
          if (n.nodeName.contains("Scan")) {
            w.scanRows += metric("numOutputRows")
            w.scanFiles += metric("numFiles")
          }
          if (Tracer.isDedup(desc, partial = false)) {
            w.dedupRowsOut += metric("numOutputRows")
            w.dedupAggMs += metric("aggTime")
          }
          if (n.nodeName == "Exchange" && n.children.flatMap(c => Tracer.nodes(c)
              .find(_.nodeName.endsWith("Aggregate"))).exists(a => Tracer.isDedup(a.simpleString(400), partial = true)))
            w.dedupShuffleBytes += metric("dataSize")
        }
      }
      executions.clear()
    }
  }
}

object Tracer {
  /** The staged batch's latest-version dedup: max(struct(version, ...)) per
    * merge key. The copy-on-write merge's own winner aggregate also takes a
    * max(struct(...)), over target and staged rows; its struct carries `_pri`. */
  def isDedup(desc: String, partial: Boolean): Boolean =
    !desc.contains("_pri") &&
      (if (partial) desc.contains("partial_max(struct(")
       else desc.contains("max(struct(") && !desc.contains("partial_max("))

  def fsBytesRead(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
      .map(_.getBytesRead).sum

  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case c: CommandResultExec => c +: nodes(c.commandPhysicalPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}

/** Streaming progress: durationMs per batch id. */
final class Progress extends StreamingQueryListener {
  val byBatch = mutable.Map.empty[Long, Map[String, Long]]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    byBatch(p.batchId) = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
  }
}

/** Traced replay of the CDC path: the calls the stream's `foreachBatch`
  * body makes, in its order, each wrapped in a span.
  *
  *   Harness stream|backfill <conf.json>
  *
  * The conf names the stream specs and warm-up folder counts (one per
  * merge mode), the lookup keys and the output paths. Output: a JSON
  * metrics file and the spans, one JSON object per line.
  */
object Harness {
  private val mapper = new ObjectMapper()

  /** Per-layer metric names, in report order; every run reports all of them. */
  val Names: Seq[String] = Seq(
    "sources.list_ms", "sources.list_calls", "sources.chunk_files", "sources.latest_offset_ms",
    "cdm.scan_ms", "cdm.csv_bytes_read", "cdm.rows_parsed", "cdm.build_ms",
    "ops.stage_build_ms", "ops.dedup_rows_in", "ops.dedup_rows_out", "ops.dedup_shuffle_bytes",
    "ops.dedup_agg_ms",
    "tables.merge_ms", "tables.merge_jobs", "tables.merge_read_bytes", "tables.merge_write_bytes",
    "tables.merge_shuffle_bytes", "tables.affected_buckets", "tables.files_written",
    "tables.mor_merge_ms", "tables.delete_files_outstanding", "tables.delete_keys_outstanding",
    "tables.export_symlink_ms", "tables.export_iceberg_ms", "tables.export_delta_ms",
    "tables.export_bytes_read", "tables.export_bytes_written",
    "tables.mor_export_iceberg_ms", "tables.mor_export_delta_ms", "tables.mor_export_delta_growth",
    "tables.compact_ms", "tables.compact_bytes_rewritten", "tables.expire_ms", "tables.orphans_ms",
    "tables.mor_compact_ms", "tables.mor_compact_bytes_rewritten",
    "tables.read_ms.snapshot", "tables.read_ms.iceberg", "tables.read_ms.delta",
    "tables.scan_ms.snapshot", "tables.scan_ms.iceberg", "tables.scan_ms.delta",
    "tables.read_files_opened", "tables.read_bytes", "tables.rows_examined_per_row_returned",
    "tables.read_analysis_ms", "tables.read_planning_ms",
    "pipeline.batch_ms", "pipeline.add_batch_ms", "pipeline.checkpoint_ms", "pipeline.planning_ms",
    "pipeline.jobs_per_batch", "pipeline.driver_only_ms", "pipeline.retries",
    "sources.self_ms", "cdm.self_ms", "ops.self_ms", "tables.self_ms", "pipeline.self_ms",
    "trace.stage_span_ms")

  def unit(n: String): String =
    if (n.contains("_ms")) "ms"
    else if (n.contains("bytes")) "bytes"
    else if (n.endsWith("_growth") || n.endsWith("_returned")) "ratio"
    else "count"

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def dirBytes(p: String): Map[String, Long] = {
    val root = Paths.get(p)
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(f => Files.isRegularFile(f) && !f.toString.endsWith(".crc"))
        .map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(mode, confPath) = args
    val conf = mapper.readTree(new java.io.File(confPath))
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "*")}]")
      .appName("perfbench-trace")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.sql.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .config("spark.speculation", "false")
      .getOrCreate()
    val tracer = new Tracer(spark)
    spark.sparkContext.addSparkListener(tracer)
    val progress = new Progress
    spark.streams.addListener(progress)
    val out = mutable.LinkedHashMap[String, Double](Names.map(_ -> 0.0): _*)
    val extra = mapper.createObjectNode()
    try {
      val specs = conf.get("specs")
      def specOf(m: String): Option[StreamSpec] = Option(specs.get(m)).map(j => StreamSpec.fromJson(j.toString))
      def warmup(m: String) = conf.get("warmup").get(m).asInt()
      if (mode == "backfill") backfill(spark, tracer, specOf("copy-on-write").get, out)
      else {
        specOf("copy-on-write").foreach(s =>
          streamLeg(spark, tracer, progress, s, warmup("copy-on-write"), out, mor = false))
        specOf("merge-on-read").foreach { s =>
          streamLeg(spark, tracer, progress, s, warmup("merge-on-read"), out, mor = true)
          reads(spark, tracer, s, conf.get("lookups").elements().asScala.map(_.asText()).toSeq, out, extra)
        }
      }
      val spanOut = new java.io.PrintWriter(conf.get("spans").asText())
      try tracer.spans.foreach { s =>
        spanOut.println(mapper.writeValueAsString(Map(
          "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "folder" -> s.folder,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_ms" -> s.ms).asJava))
      } finally spanOut.close()
      val root = mapper.createObjectNode()
      val m = root.putObject("metrics")
      val u = root.putObject("units")
      out.foreach { case (k, v) => m.put(k, v); u.put(k, unit(k)) }
      root.set("reads", extra)
      mapper.writeValue(new java.io.File(conf.get("out").asText()), root)
    } finally spark.stop()
  }

  /** Self time per layer prefix for one set of spans. */
  private def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val childMs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    spans.groupBy(_.name.takeWhile(_ != '.')).map { case (layer, ss) =>
      layer -> ss.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum
    }
  }

  private def unionMs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L
    var end = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._1 < x._2)
      .sortBy(_._1).foreach { case (a, b) =>
        if (a > end) { covered += b - a; end = b }
        else if (b > end) { covered += b - end; end = b }
      }
    covered
  }

  /** One stream over the pre-landed folders, one folder per trigger. */
  private def streamLeg(spark: SparkSession, tracer: Tracer, progress: Progress, spec: StreamSpec,
      warmup: Int, out: mutable.Map[String, Double], mor: Boolean): Unit = {
    val layout = SynapseCdmLayout(spec.sourcePath, spec.entityName, "Changelog/changelog.info",
      spec.listingRetry)
    val hconf = spark.sparkContext.hadoopConfiguration
    val typedSchema = layout.entitySchema(hconf, layout.changelogValue(hconf))
    val table = SnapshotTable(spark, spec.targetLocation)
    val stats = mutable.ArrayBuffer.empty[mutable.Map[String, Double]]
    var batchNumber = 0L
    var watermark = ""
    val exportDirs = (spec.exportDir ++ spec.icebergExportDir ++ spec.deltaExportDir).toSeq
    progress.synchronized(progress.byBatch.clear())
    val query = spark.readStream.format("synapse-cdm")
      .option("path", spec.sourcePath).option("entity", spec.entityName)
      .option("startingWatermark", "").option("maxFoldersPerTrigger", "1")
      .load().writeStream
      .trigger(Trigger.ProcessingTime(0))
      .option("checkpointLocation", spec.checkpointLocation.get)
      .foreachBatch { (raw: DataFrame, batchId: Long) =>
        val st = mutable.Map.empty[String, Double]
        tracer.folder = s"${if (mor) "mor" else "cow"}-$batchId"
        tracer.span("pipeline.batch") {
          raw.persist()
          try {
            val (folder, chunks) = tracer.span("sources.list") {
              val head = layout.changelogValue(hconf).get
              val next = layout.foldersInRange(hconf, watermark, head).head
              (next, layout.chunkFiles(hconf, next))
            }
            st("sources.list_calls") = 3
            st("sources.chunk_files") = chunks.size
            st("cdm.csv_bytes_read") = chunks.map(_._2).sum.toDouble
            val bucketAgg =
              if (table.exists && CdcPipeline.rawKeyBucketsStable(typedSchema, spec.keyColumns)) {
                val snap = table.currentSnapshot
                graft.sql.GraftExtensions.ensureRegistered(raw.sparkSession)
                Some(collect_set(SnapshotTable.bucketColumn(
                  MergeKey.expression(spec.keyColumns.map(raw.col)), snap.numBuckets,
                  SnapshotTable.bucketFnOf(snap.properties))))
              } else None
            val aggs = Seq(count(lit(1)),
              max(struct(col("_folder"), col("_chunk_idx"), col("_chunk_last")))) ++ bucketAgg
            val head = tracer.span("cdm.scan")(raw.agg(aggs.head, aggs.tail: _*).head())
            val rows = head.getLong(0)
            st("cdm.rows_parsed") = rows.toDouble
            st("ops.dedup_rows_in") = rows.toDouble
            val w = head.getStruct(1)
            val wm = if (w.getBoolean(2)) w.getString(0) else s"${w.getString(0)}#${w.getInt(1) + 1}"
            val affected = bucketAgg.map(_ => head.getSeq[Int](2).toSet)
            tracer.span("cdm.build")(CsvCast(typedSchema, raw.drop("_folder", "_chunk_idx", "_chunk_last")))
            val staged = tracer.span("ops.stage")(CdcPipeline.stage(raw, typedSchema, spec))
            val before = if (table.exists) table.currentSnapshot else null
            var attempts = 0
            tracer.span(if (mor) "tables.mor_merge" else "tables.merge") {
              Retry(spec.retry.forContext(backfill = false)) {
                attempts += 1
                CdcPipeline.mergeBatch(table, staged, spec, wm, affected)
              }
            }
            st("pipeline.retries") = attempts - 1
            val after = table.currentSnapshot
            val prevFiles = Option(before).map(_.files.map(_.path).toSet).getOrElse(Set.empty)
            val prevDels = Option(before).map(_.deletes.map(_.path).toSet).getOrElse(Set.empty)
            st("tables.files_written") = (after.files.count(f => !prevFiles(f.path)) +
              after.deletes.count(d => !prevDels(d.path))).toDouble
            st("tables.affected_buckets") = affected.map(_.size).getOrElse(after.numBuckets).toDouble
            val exportBefore = exportDirs.flatMap(dirBytes).toMap
            spec.exportDir.foreach(d => tracer.span("tables.export_symlink")(table.exportSymlinkManifest(d)))
            spec.icebergExportDir.foreach(d => tracer.span("tables.export_iceberg")(table.exportIceberg(d)))
            spec.deltaExportDir.foreach(d =>
              tracer.span("tables.export_delta")(table.exportDelta(d, spec.deleteBroadcastMaxRows)))
            st("tables.export_bytes_written") = exportDirs.flatMap(dirBytes)
              .filter { case (p, _) => !exportBefore.contains(p) }.map(_._2).sum.toDouble
            st("tables.delete_files_outstanding") = after.deletes.size.toDouble
            st("tables.delete_keys_outstanding") = after.deletes.map(_.rows).sum.toDouble
            batchNumber += 1
            val m = spec.maintenance
            if (m.batchThreshold > 0 && batchNumber % m.batchThreshold == 0) {
              tracer.span("tables.compact")(table.compact(m.fileSizeThresholdBytes))
              val cutoff = System.currentTimeMillis() - m.snapshotRetentionMs
              tracer.span("tables.expire")(table.expireSnapshots(cutoff))
              tracer.span("tables.orphans")(table.removeOrphanFiles(cutoff))
            }
            watermark = folder
          } finally raw.unpersist()
        }
        stats += st
        ()
      }
      .start()
    query.processAllAvailable()
    query.stop()
    tracer.settle()

    // per-batch figures from spans, Spark work and streaming progress
    val byFolder = tracer.spans.groupBy(_.folder)
    val per = stats.zipWithIndex.flatMap { case (st, i) =>
      val key = s"${if (mor) "mor" else "cow"}-$i"
      val ss = byFolder.getOrElse(key, Seq.empty).toSeq
      val prog = progress.synchronized(progress.byBatch.get(i.toLong))
      if (i <= warmup || ss.isEmpty || prog.isEmpty) None
      else {
        val d = prog.get.withDefaultValue(0L)
        def spanMs(n: String) = ss.filter(_.name == n).map(_.ms).sum
        def work(n: String) = ss.filter(_.name == n).map(tracer.workOf)
        val batch = ss.find(_.name == "pipeline.batch").get
        val all = ss.map(tracer.workOf)
        val jobsAll = all.flatMap(_.jobIntervals)
        st("sources.list_ms") = spanMs("sources.list")
        st("sources.latest_offset_ms") = d("latestOffset").toDouble
        st("cdm.scan_ms") = spanMs("cdm.scan")
        st("cdm.build_ms") = spanMs("cdm.build")
        st("ops.stage_build_ms") = spanMs("ops.stage")
        val merge = work(if (mor) "tables.mor_merge" else "tables.merge")
        st("ops.dedup_rows_out") = merge.map(_.dedupRowsOut).sum.toDouble
        st("ops.dedup_shuffle_bytes") = merge.map(_.dedupShuffleBytes).sum.toDouble
        st("ops.dedup_agg_ms") = merge.map(_.dedupAggMs).sum.toDouble
        st(if (mor) "tables.mor_merge_ms" else "tables.merge_ms") =
          spanMs(if (mor) "tables.mor_merge" else "tables.merge")
        st("tables.merge_jobs") = merge.map(_.jobs).sum.toDouble
        st("tables.merge_read_bytes") = merge.map(_.inputBytes).sum.toDouble
        st("tables.merge_write_bytes") = merge.map(_.outputBytes).sum.toDouble
        st("tables.merge_shuffle_bytes") = merge.map(_.shuffleBytes).sum.toDouble
        for (e <- Seq("symlink", "iceberg", "delta"))
          st(s"tables.${if (mor) "mor_" else ""}export_${e}_ms") = spanMs(s"tables.export_$e")
        st("tables.export_bytes_read") =
          ss.filter(_.name.startsWith("tables.export_")).map(_.fsBytesRead).sum.toDouble
        if (ss.exists(_.name == "tables.compact")) {
          st("tables.compact_ms") = spanMs("tables.compact")
          st("tables.compact_bytes_rewritten") = work("tables.compact").map(_.outputBytes).sum.toDouble
          st("tables.expire_ms") = spanMs("tables.expire")
          st("tables.orphans_ms") = spanMs("tables.orphans")
        }
        st("pipeline.batch_ms") = d("triggerExecution").toDouble
        st("pipeline.add_batch_ms") = d("addBatch").toDouble
        st("pipeline.checkpoint_ms") = (d("walCommit") + d("commitOffsets")).toDouble
        st("pipeline.planning_ms") = d("queryPlanning").toDouble
        st("pipeline.jobs_per_batch") = all.map(_.jobs).sum.toDouble
        st("pipeline.driver_only_ms") =
          (batch.endMs - batch.startMs - unionMs(jobsAll.toSeq, batch.startMs, batch.endMs)).toDouble
        selfTimes(ss).foreach { case (layer, v) => st(s"$layer.self_ms") = v }
        st("sources.self_ms") = st.getOrElse("sources.self_ms", 0.0) + d("latestOffset") + d("getBatch")
        st("pipeline.self_ms") = st.getOrElse("pipeline.self_ms", 0.0) +
          d("queryPlanning") + d("walCommit") + d("commitOffsets")
        // the streaming engine's own phases plus every stage span of the body
        st("trace.stage_span_ms") = batch.ms + d("latestOffset") + d("getBatch") +
          d("queryPlanning") + d("walCommit") + d("commitOffsets")
        Some(st)
      }
    }.toSeq
    def med(k: String) = median(per.flatMap(_.get(k)))
    val shared = Set("tables.delete_files_outstanding", "tables.delete_keys_outstanding")
    if (!mor) Names.filterNot(n => n.startsWith("tables.mor_") || shared(n) || n.startsWith("tables.read") ||
        n.startsWith("tables.scan") || n.startsWith("tables.rows_examined"))
      .foreach(n => out(n) = if (n.startsWith("tables.compact") || n == "tables.expire_ms" ||
        n == "tables.orphans_ms") median(per.filter(_.contains("tables.compact_ms")).flatMap(_.get(n)))
        else med(n))
    else {
      out("tables.mor_merge_ms") = med("tables.mor_merge_ms")
      out("tables.mor_export_iceberg_ms") = med("tables.mor_export_iceberg_ms")
      out("tables.mor_export_delta_ms") = med("tables.mor_export_delta_ms")
      // Delta export time on the batch that runs the compaction tick (its
      // export precedes the tick, so it carries the most outstanding deletes)
      // over the first measured batch's
      val tick = per.indexWhere(_.contains("tables.compact_ms"))
      if (tick > 0) out("tables.mor_export_delta_growth") =
        per(tick)("tables.mor_export_delta_ms") / per.head("tables.mor_export_delta_ms")
      if (tick >= 0) {
        out("tables.mor_compact_ms") = per(tick)("tables.compact_ms")
        out("tables.mor_compact_bytes_rewritten") = per(tick)("tables.compact_bytes_rewritten")
      }
      per.lastOption.foreach(st => shared.foreach(n => out(n) = st.getOrElse(n, 0.0)))
    }
  }

  /** The three readers against a merge-on-read target with outstanding deletes. */
  private def reads(spark: SparkSession, tracer: Tracer, spec: StreamSpec, keys: Seq[String],
      out: mutable.Map[String, Double], extra: com.fasterxml.jackson.databind.node.ObjectNode): Unit = {
    val table = SnapshotTable(spark, spec.targetLocation)
    val ice = spec.icebergExportDir.get
    val delta = new Path(spec.deltaExportDir.get)
    val readers: Seq[(String, Option[String] => DataFrame)] = Seq(
      "snapshot" -> {
        case Some(k) => table.read().where(col(MergeKey.ColumnName) === lit(k))
        case None => table.read()
      },
      "iceberg" -> {
        case Some(k) => IcebergExport.readTableForKey(spark, ice, k)
        case None => IcebergExport.readTable(spark, ice)
      },
      "delta" -> {
        case Some(k) => DeltaExport.readTableForKey(spark, delta, k)
        case None => DeltaExport.readTable(spark, delta)
      })
    tracer.folder = "reads"
    var returned = 0L
    for ((name, read) <- readers) {
      val got = extra.putObject(name)
      val lk = got.putObject("lookups")
      // one untimed pass first, so each reader is measured warm
      read(keys.headOption).collect()
      for (k <- keys) {
        val rows = tracer.span(s"tables.read.$name") {
          read(Some(k)).select(col("versionnumber")).collect()
        }
        returned += rows.length
        if (rows.isEmpty) lk.putNull(k) else lk.put(k, rows.map(_.getLong(0)).max)
        if (rows.length > 1) lk.put(k + "#dup", rows.length)
      }
      val agg = tracer.span(s"tables.scan.$name") {
        read(None).agg(count(lit(1)), countDistinct(col(MergeKey.ColumnName))).head()
      }
      got.put("count", agg.getLong(0))
      got.put("distinct", agg.getLong(1))
    }
    tracer.settle()
    val ss = tracer.spans.filter(_.folder == "reads").toSeq
    val lookups = ss.filter(_.name.startsWith("tables.read."))
    for (r <- Seq("snapshot", "iceberg", "delta")) {
      out(s"tables.read_ms.$r") = median(ss.filter(_.name == s"tables.read.$r").map(_.ms))
      out(s"tables.scan_ms.$r") = median(ss.filter(_.name == s"tables.scan.$r").map(_.ms))
    }
    out("tables.read_files_opened") = median(lookups.map(s => tracer.workOf(s).scanFiles.toDouble))
    out("tables.read_bytes") = median(lookups.map(s => tracer.workOf(s).inputBytes.toDouble))
    out("tables.rows_examined_per_row_returned") =
      lookups.map(s => tracer.workOf(s).scanRows).sum.toDouble / math.max(1L, returned)
    out("tables.read_analysis_ms") = median(ss.map(s => tracer.workOf(s).analysisMs))
    out("tables.read_planning_ms") = median(ss.map(s => tracer.workOf(s).planningMs))
  }

  /** The backfill path: listing, read + cast, stage, create-or-replace, one export. */
  private def backfill(spark: SparkSession, tracer: Tracer, spec: StreamSpec,
      out: mutable.Map[String, Double]): Unit = {
    tracer.folder = "backfill"
    val hconf = spark.sparkContext.hadoopConfiguration
    val layout = SynapseCdmLayout(spec.sourcePath, spec.entityName, "Changelog/changelog.info",
      spec.listingRetry)
    val table = SnapshotTable(spark, spec.targetLocation)
    tracer.span("pipeline.batch") {
      val (typedSchema, chunks) = tracer.span("sources.list") {
        val schema = layout.unionEntitySchema(hconf, spec.backfillStartDate)
        val newest = layout.changelogValue(hconf).get
        val folders = layout.foldersInRange(hconf, "", newest)
        (schema, folders.flatMap(f => layout.chunkFiles(hconf, f)))
      }
      out("sources.chunk_files") = chunks.size
      out("sources.list_calls") = 3.0 + chunks.size
      out("cdm.csv_bytes_read") = chunks.map(_._2).sum.toDouble
      val raw = tracer.span("cdm.build") {
        val r = spark.read.format("synapse-cdm").option("path", spec.sourcePath)
          .option("entity", spec.entityName).option("includeDroppedColumns", "true").load()
        CsvCast(typedSchema, r.drop("_folder", "_chunk_idx", "_chunk_last"))
        r
      }
      val staged = tracer.span("ops.stage")(CdcPipeline.stage(raw, typedSchema, spec))
      var attempts = 0
      tracer.span("tables.merge") {
        Retry(spec.retry.forContext(backfill = true)) {
          attempts += 1
          table.createOrReplace(
            staged.where(!coalesce(col(spec.isDeleteColumn).cast("boolean"), lit(false))),
            MergeKey.ColumnName, spec.numBuckets,
            Map(SnapshotTable.PropWatermark -> layout.changelogValue(hconf).get))
        }
      }
      out("pipeline.retries") = attempts - 1
      spec.icebergExportDir.foreach(d => tracer.span("tables.export_iceberg")(table.exportIceberg(d)))
    }
    tracer.settle()
    val ss = tracer.spans.toSeq
    def spanMs(n: String) = ss.filter(_.name == n).map(_.ms).sum
    val merge = ss.filter(_.name == "tables.merge").map(tracer.workOf)
    val batch = ss.find(_.name == "pipeline.batch").get
    out("sources.list_ms") = spanMs("sources.list")
    out("cdm.build_ms") = spanMs("cdm.build")
    out("ops.stage_build_ms") = spanMs("ops.stage")
    out("cdm.rows_parsed") = merge.map(_.scanRows).sum.toDouble
    out("ops.dedup_rows_in") = out("cdm.rows_parsed")
    out("ops.dedup_rows_out") = merge.map(_.dedupRowsOut).sum.toDouble
    out("ops.dedup_shuffle_bytes") = merge.map(_.dedupShuffleBytes).sum.toDouble
    out("ops.dedup_agg_ms") = merge.map(_.dedupAggMs).sum.toDouble
    out("tables.merge_ms") = spanMs("tables.merge")
    out("tables.merge_jobs") = merge.map(_.jobs).sum.toDouble
    out("tables.merge_read_bytes") = merge.map(_.inputBytes).sum.toDouble
    out("tables.merge_write_bytes") = merge.map(_.outputBytes).sum.toDouble
    out("tables.merge_shuffle_bytes") = merge.map(_.shuffleBytes).sum.toDouble
    out("tables.affected_buckets") = table.currentSnapshot.numBuckets
    out("tables.files_written") = table.currentSnapshot.files.size
    out("tables.export_iceberg_ms") = spanMs("tables.export_iceberg")
    out("tables.export_bytes_read") = ss.filter(_.name.startsWith("tables.export_")).map(_.fsBytesRead).sum
    out("tables.export_bytes_written") = spec.icebergExportDir.toSeq
      .flatMap(dirBytes).map(_._2).sum.toDouble
    val all = ss.map(tracer.workOf)
    out("pipeline.batch_ms") = batch.ms
    out("pipeline.jobs_per_batch") = all.map(_.jobs).sum
    out("pipeline.driver_only_ms") =
      (batch.endMs - batch.startMs - unionMs(all.flatMap(_.jobIntervals), batch.startMs, batch.endMs)).toDouble
    selfTimes(ss).foreach { case (layer, v) => out(s"$layer.self_ms") = v }
    out("trace.stage_span_ms") = batch.ms
  }
}
