package perfbench

import scala.collection.mutable

import graft.operators.Multimodal.FrameRow
import graft.ops.SortTracker
import graft.streaming.{StreamingOps, VetlPipeline}
import org.apache.spark.sql.{SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** vetl_stream: the paper's online path as one closed-loop streaming
  * query. frames → VetlPipeline.detectStub(K) → StreamingOps.trackStream
  * → 2 s event-time quality windows (watermark, append, memory sink).
  * One operation is one 2 s chunk of all N streams: 60 frames per stream
  * go into a MemoryStream, and its latency runs from addData to the
  * return of processAllAvailable. The next chunk is sent only after that.
  */
object VetlStream {
  val ChunkFrames = 60
  val FrameMs = 33L // VetlPipeline.frameTime's grid
  val WatermarkMs = 2000L
  val WindowMs = 2000L

  /** Streams (N) and objects per frame (K). */
  val Streams = 32
  val Objects = 4
  /** Untimed chunks after the set-ups: while the JIT compiles, chunk
    * latency keeps falling for about 12 chunks after them (from ~1.55 s to
    * ~1.25 s), and a run timed inside that fall had its tail set by it. */
  val WarmupChunks = 12
  /** Untimed chunks of the local[1] baseline in the traced run, which
    * starts after the JIT has compiled the pipeline. */
  val Local1WarmupChunks = 4
  val SetupReps = 4

  /** Frame payloads: the LCG generator of LiveDemo and VetlPipelineSpec,
    * seeded per (seed, stream, frame). */
  def frames(seed: Long, streams: Int, chunk: Int): Seq[FrameRow] = {
    val out = new Array[FrameRow](streams * ChunkFrames)
    var k = 0
    var sid = 0
    while (sid < streams) {
      var f = chunk * ChunkFrames
      while (f < (chunk + 1) * ChunkFrames) {
        val data = new Array[Byte](64)
        data(0) = 'G'; data(1) = 'F'; data(2) = 'T'; data(3) = '0'
        var s = (seed * 1000003L + sid * 1000000L + f) * 6364136223846793005L + 1442695040888963407L
        var i = 4
        while (i < 64) {
          s = s * 6364136223846793005L + 1442695040888963407L
          data(i) = (s >>> 56).toByte
          i += 1
        }
        out(k) = FrameRow(sid.toLong, f.toLong, "gft", 1280, 720, data)
        k += 1; f += 1
      }
      sid += 1
    }
    out.toSeq
  }

  final class Pipeline(spark: SparkSession, local: String, tag: String) {
    private implicit val sqlCtx: SQLContext = spark.sqlContext
    import spark.implicits._
    val input: MemoryStream[FrameRow] = MemoryStream[FrameRow]
    val sink = s"vetl_$tag"
    val query: StreamingQuery = {
      val tracks = StreamingOps.trackStream(VetlPipeline.detectStub(input.toDF(), Objects))
      tracks
        .withColumn("ts", VetlPipeline.frameTime(col("frame")))
        .withWatermark("ts", s"${WatermarkMs / 1000} seconds")
        .groupBy(window(col("ts"), s"${WindowMs / 1000} seconds"), col("stream_id"))
        .agg(approx_count_distinct(col("track_id")).as("n_tracks"),
          count(lit(1)).as("n_boxes"))
        .writeStream.format("memory").queryName(sink).outputMode("append")
        .option("checkpointLocation", s"$local/ckpt_$tag")
        .start()
    }
    var chunks = 0
    def push(fs: Seq[FrameRow], tracer: Tracer): Unit = {
      tracer.span("streaming", "MemoryStream.addData")(input.addData(fs))
      tracer.span("streaming", "StreamingQuery.processAllAvailable")(query.processAllAvailable())
      chunks += 1
    }
    def stop(): Unit = { query.stop(); query.awaitTermination() }
  }

  /** Closed windows expected after `framesPerStream` frames: a window
    * closes once the watermark (max event time − delay) reaches its end. */
  def expectedClosedPerStream(framesPerStream: Long): Long = {
    val wm = (framesPerStream - 1) * FrameMs - WatermarkMs
    if (wm < WindowMs) 0L else wm / WindowMs
  }

  def run(a: Args, res: Result): Unit = {
    val local = s"${a.work}/vetl"
    val spark = SparkSetup.session(SparkSetup.Cores, local)
    val probe = new TaskProbe
    spark.sparkContext.addSparkListener(probe)
    val jit0 = Jvm.jitMs; val gc0 = Jvm.gcMs
    res.layers("jvm.loadavg_start") = Jvm.loadAvg
    val noTrace = new Tracer(false, "")
    val tracer = new Tracer(a.trace, s"vetl_stream-${a.seed}")

    // set-up: inputs for the first chunk, query start, first chunk done;
    // repeated on fresh queries, the last one is kept for the timed loop
    var pipe: Pipeline = null
    for (r <- 0 until SetupReps) {
      if (pipe != null) pipe.stop()
      val t0 = System.nanoTime()
      val fs = frames(a.seed, Streams, 0)
      pipe = new Pipeline(spark, local, s"${a.seed}_$r")
      pipe.push(fs, noTrace)
      res.setupS += (System.nanoTime() - t0) / 1e9
      // the first set-up also pays class loading and first codegen
      if (r == 0) res.layers("jvm.warmup_s") = Main.sinceStartS
    }
    for (c <- 1 to WarmupChunks) pipe.push(frames(a.seed, Streams, c), noTrace)

    // driver-side SORT replay state for the traced run (ops layer)
    val replay = mutable.Map.empty[Long, SortTracker]
    val opsMs = mutable.ArrayBuffer.empty[Double]
    val detectMs = mutable.ArrayBuffer.empty[Double]
    val tracedMs = mutable.ArrayBuffer.empty[Double]
    val untracedMs = mutable.ArrayBuffer.empty[Double]
    var tracksOut = 0L

    val chunkStartMs = mutable.ArrayBuffer.empty[Long]
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    var c = WarmupChunks + 1
    val tStart = System.nanoTime()
    while (System.nanoTime() < deadline || res.opMs.length < 5) {
      val fs = frames(a.seed, Streams, c)
      val traced = a.trace && res.opMs.length % 2 == 0
      val tr = if (traced) tracer else noTrace
      chunkStartMs += System.currentTimeMillis()
      val t0 = System.nanoTime()
      tr.span("bench", "vetl.chunk")(pipe.push(fs, tr))
      val ms = (System.nanoTime() - t0) / 1e6
      res.opMs += ms
      if (a.trace) (if (traced) tracedMs else untracedMs) += ms
      if (traced) {
        // outside the chunk's latency: the same chunk through the
        // detector as a batch job, and its detections through SORT on
        // the driver, one tracker per stream
        val d0 = System.nanoTime()
        val dets = tracer.span("operators", "VetlPipeline.detectStub") {
          import spark.implicits._
          VetlPipeline.detectStub(spark.createDataset(fs).toDF(), Objects)
            .as[(Long, Long, Double, Double, Double, Double, Double)].collect()
        }
        detectMs += (System.nanoTime() - d0) / 1e6
        val s0 = System.nanoTime()
        tracer.span("ops", "SortTracker.update") {
          dets.groupBy(_._1).foreach { case (sid, rows) =>
            val trk = replay.getOrElseUpdate(sid, new SortTracker())
            rows.groupBy(_._2).toSeq.sortBy(_._1).foreach { case (_, fr) =>
              val ds = fr.sortBy(d => (d._3, d._4, d._5, d._6, d._7))
                .map(d => SortTracker.Det(d._3, d._4, d._5, d._6, d._7))
              tracksOut += trk.update(ds).length
            }
          }
        }
        opsMs += (System.nanoTime() - s0) / 1e6
      }
      c += 1
    }
    res.timedWallS = (System.nanoTime() - tStart) / 1e9
    val timedEndMs = System.currentTimeMillis()
    val timedChunks = res.opMs.length
    pipe.query.processAllAvailable()

    // ---- output checks over the memory sink ----
    val epochSec = VetlPipeline.epochMs / 1000
    val rows = spark.table(pipe.sink)
      .select(col("window.start").cast("long"), col("stream_id"), col("n_tracks"), col("n_boxes"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val framesPerStream = pipe.chunks.toLong * ChunkFrames
    val expected = expectedClosedPerStream(framesPerStream) * Streams
    res.check(rows.length.toLong == expected,
      s"closed windows ${rows.length} != expected $expected")
    val fullBoxes = Set(60L * Objects, 61L * Objects)
    rows.foreach { case (start, sid, nTracks, nBoxes) =>
      res.check((start - epochSec) % 2 == 0, s"window $start of stream $sid off the 2 s grid")
      if (start > epochSec)
        res.check(nTracks == Objects && fullBoxes(nBoxes),
          s"window $start stream $sid: $nTracks tracks, $nBoxes boxes")
    }
    // chunks are operations too: each one has to finish
    (0 until timedChunks).foreach(_ => res.check(ok = true, ""))

    val progress = pipe.query.recentProgress.toSeq
    val dropped = progress.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
    val late = probe.lateRows.get()
    res.check(dropped == 0, s"$dropped rows dropped by the watermark")
    res.check(late == 0, s"$late late rows in trackStream")

    // ---- per-layer values: batches, state stores, tasks per timed chunk ----
    val bounds = chunkStartMs.toIndexedSeq :+ timedEndMs
    def chunkOf(ms: Long): Int = {
      val i = bounds.lastIndexWhere(_ <= ms)
      if (i < 0 || i >= chunkStartMs.length) -1 else i
    }
    def perChunk(samples: Seq[(Long, Double)]): Double = {
      val sums = new Array[Double](chunkStartMs.length)
      samples.foreach { case (t, v) => val i = chunkOf(t); if (i >= 0) sums(i) += v }
      Pct.median(sums.toSeq)
    }
    val progMs = progress.map(p => java.time.Instant.parse(p.timestamp).toEpochMilli -> p)
    def dur(k: String) = perChunk(progMs.map { case (t, p) =>
      t -> Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0) })
    def stateOp(pred: String => Boolean, f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
      perChunk(progMs.map { case (t, p) =>
        t -> p.stateOperators.filter(o => pred(o.operatorName)).map(f).sum })
    val isTrack = (n: String) => n.toLowerCase.contains("flatmapgroupswithstate")
    val isWindow = (n: String) => !isTrack(n)
    val L = res.layers
    L("streaming.batches_per_chunk") = perChunk(progMs.map(_._1 -> 1.0))
    L("streaming.trigger_ms") = dur("triggerExecution")
    L("streaming.add_batch_ms") = dur("addBatch")
    L("streaming.query_planning_ms") = dur("queryPlanning")
    L("streaming.wal_commit_ms") = dur("walCommit")
    L("streaming.commit_offsets_ms") = dur("commitOffsets")
    L("streaming.state_commit_ms.track") = stateOp(isTrack, _.commitTimeMs.toDouble)
    L("streaming.state_commit_ms.window") = stateOp(isWindow, _.commitTimeMs.toDouble)
    L("streaming.state_update_ms.track") = stateOp(isTrack, _.allUpdatesTimeMs.toDouble)
    L("streaming.state_update_ms.window") = stateOp(isWindow, _.allUpdatesTimeMs.toDouble)
    val last = progress.lastOption
    L("streaming.state_stores") =
      last.map(_.stateOperators.map(_.numStateStoreInstances.toDouble).sum).getOrElse(0.0)
    L("streaming.state_rows") = last.map(_.stateOperators.map(_.numRowsTotal.toDouble).sum).getOrElse(0.0)
    L("streaming.state_mb") =
      last.map(_.stateOperators.map(_.memoryUsedBytes.toDouble).sum / 1048576.0).getOrElse(0.0)
    val tasks = probe.taskList
    L("streaming.stages_per_chunk") = perChunk(probe.stageList.map(s => s.submitMs -> 1.0))
    L("streaming.tasks_per_chunk") = perChunk(tasks.map(t => t.launchMs -> 1.0))
    L("streaming.exec_cpu_ms_per_chunk") = perChunk(tasks.map(t => t.launchMs -> t.cpuMs))
    L("streaming.exec_run_ms_per_chunk") = perChunk(tasks.map(t => t.launchMs -> t.runMs.toDouble))
    L("streaming.shuffle_kb_per_chunk") = perChunk(tasks.map(t => t.launchMs -> t.shuffleBytes / 1024.0))
    L("streaming.gc_ms_per_chunk") = perChunk(tasks.map(t => t.launchMs -> t.gcMs.toDouble))
    L("streaming.late_rows") = late.toDouble
    L("streaming.watermark_dropped_rows") = dropped.toDouble
    L("streaming.video_s_per_s") = Streams * 2.0 * timedChunks / res.timedWallS
    L("streaming.deadline_ms") = 2000.0
    L("operators.detect_ms_per_chunk") = Pct.median(detectMs.toSeq)
    L("ops.sort_ms_per_chunk") = Pct.median(opsMs.toSeq)
    L("ops.sort_tracks_out") = tracksOut.toDouble
    res.info("size") = Map("streams" -> Streams, "objects" -> Objects,
      "warmup_chunks" -> WarmupChunks, "local1_warmup_chunks" -> Local1WarmupChunks,
      "setup_reps" -> SetupReps)
    res.info("chunks_total") = pipe.chunks
    res.info("closed_windows") = rows.length
    res.info("failed_task_attempts") = tasks.count(_.failed)
    pipe.stop()
    res.layers("jvm.jit_s") = (Jvm.jitMs - jit0) / 1e3
    res.layers("jvm.gc_s") = (Jvm.gcMs - gc0) / 1e3
    res.info("traced_chunk_ms") = tracedMs.toSeq
    res.info("untraced_chunk_ms") = untracedMs.toSeq
    if (a.trace) {
      L("trace.overhead_pct") =
        (Pct.median(tracedMs.toSeq) / Pct.median(untracedMs.toSeq) - 1.0) * 100.0
      Main.traceLayers(res, Seq(tracer), tracedMs.length)
      tracer.writeTo(s"${a.out}.spans.jsonl")
      // single-threaded baseline of the same pipeline
      spark.stop()
      val one = SparkSetup.session(1, s"$local/local1")
      val p1 = new Pipeline(one, s"$local/local1", s"${a.seed}_l1")
      val ms1 = mutable.ArrayBuffer.empty[Double]
      (0 to Local1WarmupChunks).foreach(c1 => p1.push(frames(a.seed, Streams, c1), noTrace))
      val end1 = System.nanoTime() + (a.seconds / 2 * 1e9).toLong
      var c1 = Local1WarmupChunks + 1
      while (ms1.length < 3 || System.nanoTime() < end1) {
        val fs = frames(a.seed, Streams, c1)
        val t0 = System.nanoTime()
        p1.push(fs, noTrace)
        ms1 += (System.nanoTime() - t0) / 1e6
        c1 += 1
      }
      p1.stop()
      one.stop()
      L("streaming.local1_chunk_p50_ms") = Pct.median(ms1.toSeq)
      L("streaming.local1_speedup") = Pct.median(ms1.toSeq) / Pct.median(res.opMs.toSeq)
    } else spark.stop()
    res.layers("jvm.loadavg_end") = Jvm.loadAvg
  }
}
