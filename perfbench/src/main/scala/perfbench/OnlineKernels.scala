package perfbench

import scala.collection.mutable.ArrayBuffer

import graft.control.{KnobPlanner, Profile, SimBuffer, Switcher}
import graft.ops.SortTracker
import graft.ops.SortTracker.Det

/** online_kernels: the sequential per-stream kernels of the online path
  * (supp. N.2), Spark-free, one thread per stream. One operation is `Rounds`
  * rounds of a pass of a fresh SortTracker over a crowded scene followed
  * by the first planning interval of a fresh Switcher, the re-plan that
  * opens it included, so that the tracker and the control plane each carry
  * a share of it and every operation does the same work. */
object OnlineKernels {

  /** Fingerprint fold (FNV-1a over 64-bit words). */
  final class Fp {
    private var h = 0xcbf29ce484222325L
    def add(x: Long): Unit = { h = (h ^ x) * 0x100000001b3L }
    def add(x: Double): Unit = add(math.round(x * 1e6))
    def hex: String = f"$h%016x"
  }

  final case class Crowd(objects: Int, frames: Int, missRate: Double, jitterPx: Double)

  /** 30 objects, one 600-frame scene (20 s of video), 5 % missed
    * detections. */
  val crowd = Crowd(objects = 30, frames = 600, missRate = 0.05, jitterPx = 1.5)

  /** A crowded scene: objects on crossing straight paths that wrap at the
    * frame edges, with position jitter and missed detections, so the IoU
    * matrices are not partial permutations and the Hungarian path runs. */
  def crowdScene(seed: Long, c: Crowd): Array[Array[Det]] = {
    val rnd = new java.util.Random(seed)
    val (fw, fh) = (960.0, 540.0)
    final case class Obj(x: Double, y: Double, vx: Double, vy: Double, w: Double, h: Double)
    // directions, speeds and sizes are spread evenly over the objects and
    // only the start positions, jitter and misses come from the seed, so
    // every seed gives a scene equally crowded
    def spread(k: Int, mult: Int) = ((k * mult) % c.objects).toDouble / c.objects
    val objs = Array.tabulate(c.objects) { k =>
      val speed = 2.0 + 4.0 * spread(k, 7)
      val (vx, vy) = k % 4 match {
        case 0 => (speed, 0.0)
        case 1 => (-speed, 0.0)
        case 2 => (0.0, speed)
        case _ => (0.0, -speed)
      }
      Obj(rnd.nextDouble() * fw, rnd.nextDouble() * fh, vx, vy,
        40.0 + 40.0 * spread(k, 11), 80.0 + 60.0 * spread(k, 13))
    }
    def wrap(v: Double, m: Double) = ((v % m) + m) % m
    Array.tabulate(c.frames) { f =>
      objs.flatMap { o =>
        if (rnd.nextDouble() < c.missRate) None else {
          val x = wrap(o.x + o.vx * f, fw) + c.jitterPx * rnd.nextGaussian()
          val y = wrap(o.y + o.vy * f, fh) + c.jitterPx * rnd.nextGaussian()
          Some(Det(x, y, x + o.w, y + o.h, 0.5 + 0.5 * rnd.nextDouble()))
        }
      }
    }
  }

  private def iou(a: Det, b: Det): Double = {
    val w = math.max(0.0, math.min(a.x2, b.x2) - math.max(a.x1, b.x1))
    val h = math.max(0.0, math.min(a.y2, b.y2) - math.max(a.y1, b.y1))
    val i = w * h
    i / ((a.x2 - a.x1) * (a.y2 - a.y1) + (b.x2 - b.x1) * (b.y2 - b.y1) - i)
  }

  final case class Fleet(configs: Int, placements: Int, categories: Int,
                         chunks: Int, planningInterval: Int, bufferChunks: Double)

  /** 10k placements (20 configs x 500), 16 categories, 1 h of 2 s chunks,
    * a re-plan every 15 minutes, a buffer of 1.2 chunks of the largest
    * config. */
  val fleet = Fleet(configs = 20, placements = 500, categories = 16, chunks = 1800,
    planningInterval = 450, bufferChunks = 1.2)
  val SetupReps = 9
  /** Rounds (SORT pass + first interval) per operation. A round takes
    * about 300 ms, and on a shared host a thread's speed changes for
    * seconds at a time, so single rounds fell into a fast and a slow mode;
    * an operation of several rounds spans those changes. */
  val Rounds = 2
  /** Streams replayed at once, one thread each, their operations pooled.
    * A thread takes the speed of the core it runs on, and on a shared host
    * one core ran 1.6x slower than another for seconds at a time, so the
    * pooled operations of several streams are steadier than one stream's;
    * the fourth core is left to the JIT, GC and the system. */
  val Streams = 3

  final class Setup(seed: Long, f: Fleet) {
    private val rnd = new java.util.Random(seed)
    /** On-prem runtime (s per 2 s chunk) per config, rising with quality. */
    val baseRt: Array[Double] = Array.tabulate(f.configs)(c => 0.4 + 3.2 * c / (f.configs - 1))
    val profiles: IndexedSeq[Profile] = for {
      c <- 0 until f.configs; p <- 0 until f.placements
    } yield {
      // placement 0 is all on-prem; higher placements offload more work,
      // paying cloud cost for a shorter on-prem runtime
      val off = p.toDouble / f.placements
      Profile(p, c, baseRt(c) * (1.0 - 0.85 * off) * (0.98 + 0.04 * rnd.nextDouble()),
        if (p == 0) 0.0 else baseRt(c) * off * (0.9 + 0.2 * rnd.nextDouble()), 1.0e6 * (1 + c))
    }
    /** Quality centers [category][config]: saturating in config cost,
      * with a per-category difficulty. */
    val categories: Array[Array[Double]] = Array.tabulate(f.categories) { g =>
      val hard = 0.2 + 0.8 * g / (f.categories - 1)
      Array.tabulate(f.configs)(c => 1.0 - hard * math.exp(-3.0 * c / f.configs))
    }
    /** Per-chunk content: the category drifts on a daily cycle plus noise;
      * each config's score is the category center plus noise. */
    val scores: Array[Array[Double]] = Array.tabulate(f.chunks) { i =>
      val day = 43200.0
      val phase = 0.5 + 0.5 * math.sin(2 * math.Pi * i / day * 24) // hourly cycle
      val g = math.min(f.categories - 1, math.max(0,
        (phase * (f.categories - 1) + 2.0 * rnd.nextGaussian()).round.toInt))
      Array.tabulate(f.configs)(c => categories(g)(c) + 0.02 * rnd.nextGaussian())
    }
    val knobCost: Array[Double] = baseRt
    val timeInterval = 2.0
    val hoursAhead: Double = f.planningInterval * timeInterval / 3600.0
    /** Budget: the on-prem cost of running the middle config everywhere. */
    val budget: Double = baseRt(f.configs / 2) * hoursAhead * 3600
    val sizes: Map[Int, Double] = (0 until f.configs).map(c => c -> 1.0e6 * (1 + c)).toMap
    /** Buffer space for `bufferChunks` chunks of the largest config. */
    val space: Double = f.bufferChunks * sizes.values.max
    val bootstrap: Array[Double] = Array.fill(f.categories)(1.0)
    def planner = new KnobPlanner(categories, knobCost, hoursAhead, timeInterval)
    def switcher(buffer: SimBuffer) =
      new Switcher(categories, profiles, planner, f.planningInterval, budget, bootstrap, buffer)
  }

  final case class Decision(config: Int, placement: Int, cost: Double, rt: Double,
                            score: Double, occupancyS: Double)

  /** A chunk replay with a fresh switcher and buffer, stepped one planning
    * interval at a time. */
  final class Replay(setup: Setup, f: Fleet, tracer: Tracer) {
    private val buffer = new SimBuffer(setup.space, setup.sizes)
    private val sw = setup.switcher(buffer)
    private var cur = setup.scores(0)(0)
    var next = 0
    def done: Boolean = next >= f.chunks

    /** The decisions of the next interval; the latency of each goes to `ms`. */
    def interval(traced: Boolean, ms: ArrayBuffer[Double]): Array[Decision] =
      Array.tabulate(math.min(f.planningInterval, f.chunks - next)) { _ =>
        val t0 = System.nanoTime()
        val (cfg, plc, cost, rt) =
          if (traced) tracer.span("control", "Switcher.switch")(sw.switch(cur)) else sw.switch(cur)
        ms += (System.nanoTime() - t0) / 1e6
        cur = setup.scores(next)(cfg)
        next += 1
        Decision(cfg, plc, cost, rt, cur, buffer.occupiedTime)
      }
  }

  def fingerprint(log: Seq[Decision]): String = {
    val fp = new Fp
    log.foreach { d =>
      fp.add(d.config.toLong); fp.add(d.placement.toLong); fp.add(d.cost); fp.add(d.rt)
    }
    fp.hex
  }

  def run(a: Args, res: Result): Unit = {
    val (c, f) = (crowd, fleet)
    val tracer = new Tracer(a.trace, s"online_kernels-${a.seed}")
    val noTrace = new Tracer(false, "")
    res.layers("jvm.loadavg_start") = Jvm.loadAvg
    val jit0 = Jvm.jitMs; val gc0 = Jvm.gcMs

    // set-up: the scene and the fleet generated, a switcher built
    var scene: Array[Array[Det]] = null
    var setup: Setup = null
    val buildMs = ArrayBuffer.empty[Double]
    for (_ <- 0 until SetupReps) {
      val t0 = System.nanoTime()
      scene = crowdScene(a.seed, c)
      setup = new Setup(a.seed, f)
      val b0 = System.nanoTime()
      setup.switcher(new SimBuffer(setup.space, setup.sizes))
      buildMs += (System.nanoTime() - b0) / 1e6
      res.setupS += (System.nanoTime() - t0) / 1e9
    }
    val crowded = scene.count { ds =>
      ds.indices.exists(i => (i + 1 until ds.length).exists(j => iou(ds(i), ds(j)) > 0.3))
    }

    /** One pass over the scene with a fresh tracker; returns the output
      * fingerprint and the number of confirmed track boxes. */
    def sortPass(tr: Tracer): (String, Long) = {
      val trk = new SortTracker()
      val fp = new Fp
      var outN = 0L
      var i = 0
      while (i < scene.length) {
        val out = tr.span("ops", "SortTracker.update")(trk.update(scene(i)))
        out.foreach { o =>
          fp.add(i.toLong); fp.add(o.trackId.toLong); fp.add(o.x1); fp.add(o.y1); fp.add(o.x2); fp.add(o.y2)
        }
        outN += out.length
        i += 1
      }
      (fp.hex, outN)
    }

    // reference outputs, which also warm the JIT: SORT passes and one
    // whole replay
    val w0 = System.nanoTime()
    val (trackRef, tracksOut) = sortPass(noTrace)
    (0 until 3).foreach(_ => sortPass(noTrace))
    val refLog = {
      val r = new Replay(setup, f, noTrace)
      val log = ArrayBuffer.empty[Decision]
      while (!r.done) log ++= r.interval(traced = false, ArrayBuffer.empty)
      log.toArray
    }
    // two operations' worth of work, untimed: the first operations of a
    // JVM still ran up to twice as slow
    (0 until 2 * Rounds).foreach { _ =>
      sortPass(noTrace)
      new Replay(setup, f, noTrace).interval(traced = false, ArrayBuffer.empty)
    }
    res.layers("jvm.warmup_s") = (System.nanoTime() - w0) / 1e9
    val decisionRef = fingerprint(refLog.toSeq)

    // every decision names a profiled operating point
    val byKey = setup.profiles.map(p => (p.knobConfig, p.placementId) -> p).toMap
    refLog.zipWithIndex.foreach { case (d, i) =>
      val p = byKey.get((d.config, d.placement))
      res.check(p.exists(p => p.runtime == d.rt && p.cloudCost == d.cost),
        s"decision $i picks ($d) which is not a profile")
    }
    // the planner's plan honours its constraints
    val planner = setup.planner
    val hist = Array.tabulate(f.categories)(g => 1.0 + (g % 3))
    val (plan, _) = planner.plan(hist, setup.budget)
    plan.zipWithIndex.foreach { case (row, g) =>
      res.check(math.abs(row.sum - 1.0) < 1e-6, s"plan row $g sums to ${row.sum}")
    }
    val mixture = graft.control.HistogramForecaster.forecast(hist)
    val cost = (for (g <- plan.indices; k <- plan(g).indices)
      yield plan(g)(k) * mixture(g) * setup.knobCost(k) * setup.hoursAhead * 3600).sum
    res.check(cost <= setup.budget * (1 + 1e-6), s"plan cost $cost over budget ${setup.budget}")
    val planFp = new Fp
    plan.foreach(_.foreach(planFp.add))
    val fingerprints = s"$trackRef/$decisionRef/${planFp.hex}"
    a.recorded.foreach(r => res.check(r == fingerprints,
      s"track/decision/plan fingerprints $fingerprints != recorded $r"))

    // timed operations, on `Streams` threads at once, one stream each:
    // `Rounds` times a SORT pass, then the first interval of a fresh
    // replay, whose switcher is built outside the operation
    val firstInterval = refLog.take(f.planningInterval)
    final class Lane(id: Int) {
      val tracer = new Tracer(a.trace, s"online_kernels-${a.seed}-$id")
      val sortMs, decisionMs, replans, traced, untraced, opMs = ArrayBuffer.empty[Double]
      val failures = ArrayBuffer.empty[String]
      var checks = 0L
      /** Operation time: the switcher builds between operations are not in it. */
      var timed = 0.0
      @volatile var error: Throwable = null
      def run(): Unit = try {
        var ops = 0
        while (timed < a.seconds || ops < 3) {
          val tr = a.trace && ops % 2 == 1
          val span = if (tr) tracer else noTrace
          val replays = Array.fill(Rounds)(new Replay(setup, f, tracer))
          val ms = Array.fill(Rounds)(ArrayBuffer.empty[Double])
          val t0 = System.nanoTime()
          val rounds = span.span("bench", "op") {
            replays.indices.map { r =>
              val s0 = System.nanoTime()
              val (trackFp, _) = sortPass(span)
              sortMs += (System.nanoTime() - s0) / 1e6
              (trackFp, replays(r).interval(tr, ms(r)))
            }
          }
          val ms0 = (System.nanoTime() - t0) / 1e6
          timed += ms0 / 1e3
          rounds.foreach { case (trackFp, log) =>
            checks += 2
            if (trackFp != trackRef)
              failures += s"stream $id operation $ops: track fingerprint $trackFp != $trackRef"
            if (!log.sameElements(firstInterval))
              failures += s"stream $id operation $ops: decisions differ from the reference replay"
          }
          ms.foreach { m => decisionMs ++= m; replans += m.head }
          opMs += ms0
          (if (tr) traced else untraced) += ms0
          ops += 1
        }
      } catch { case e: Throwable => error = e }
    }
    val lanes = (0 until Streams).map(new Lane(_))
    val threads = lanes.map(l => new Thread(() => l.run()))
    threads.foreach(_.start())
    threads.foreach(_.join())
    lanes.foreach(l => if (l.error != null) throw l.error)
    lanes.foreach { l =>
      res.attempted += l.checks
      res.failed += l.failures.length
      res.failures ++= l.failures.take(50 - res.failures.length)
      res.opMs ++= l.opMs
    }
    // operations over their time per stream: the summed operation time
    res.timedWallS = lanes.map(_.timed).sum
    val sortMs = lanes.flatMap(_.sortMs)
    val decisionMs = lanes.flatMap(_.decisionMs)
    val replans = lanes.flatMap(_.replans)
    val traced = lanes.flatMap(_.traced)
    val untraced = lanes.flatMap(_.untraced)
    val laneTracers = lanes.map(_.tracer)

    val L = res.layers
    val updUs = laneTracers.flatMap(_.durationsMs("SortTracker.update")).map(_ * 1e3)
    L("ops.track_fps") = sortMs.length * scene.length / (sortMs.sum / 1e3)
    L("ops.sort_update_p50_us") = if (a.trace) Pct.median(updUs) else 0.0
    L("ops.sort_update_p99_us") = if (a.trace) Pct(updUs, 99) else 0.0
    L("ops.sort_tracks_out") = tracksOut.toDouble
    L("ops.crowded_frames_pct") = 100.0 * crowded / scene.length
    // the first decision of every interval is the one that re-plans
    val plain = lanes.flatMap { l =>
      l.decisionMs.indices.filter(i => i % f.planningInterval != 0).map(l.decisionMs(_))
    }
    L("control.decisions_per_s") = decisionMs.length / (decisionMs.sum / 1e3)
    L("control.switch_p50_us") = Pct.median(plain) * 1e3
    L("control.switch_p99_us") = Pct(plain, 99) * 1e3
    L("control.replan_ms") = Pct.median(replans.toSeq)
    L("control.switcher_build_ms") = Pct.median(buildMs.toSeq)
    L("control.buffer_occupancy_s_p50") = Pct.median(refLog.map(_.occupancyS).toSeq)
    L("control.cloud_frac") = refLog.count(_.cost > 0).toDouble / refLog.length
    L("control.mean_score") = refLog.map(_.score).sum / refLog.length
    if (a.trace) {
      L("trace.overhead_pct") = (Pct.median(traced.toSeq) / Pct.median(untraced.toSeq) - 1.0) * 100.0
      Main.traceLayers(res, laneTracers, traced.length)
      // the planner's parts, called directly after the operations: forecast, LP, both
      val fc = ArrayBuffer.empty[Double]; val lp = ArrayBuffer.empty[Double]
      val pl = ArrayBuffer.empty[Double]
      for (_ <- 0 until 3) {
        val t0 = System.nanoTime()
        val m = tracer.span("control", "Forecaster.forecast")(graft.control.HistogramForecaster.forecast(hist))
        val t1 = System.nanoTime()
        tracer.span("control", "KnobPlanner.assignKnobsLinProg")(planner.assignKnobsLinProg(m, setup.budget))
        val t2 = System.nanoTime()
        tracer.span("control", "KnobPlanner.plan")(planner.plan(hist, setup.budget))
        val t3 = System.nanoTime()
        fc += (t1 - t0) / 1e3; lp += (t2 - t1) / 1e6; pl += (t3 - t2) / 1e6
      }
      L("control.forecast_us") = Pct.median(fc.toSeq)
      L("control.lp_ms") = Pct.median(lp.toSeq)
      L("control.plan_p50_ms") = Pct.median(pl.toSeq)
      (tracer +: laneTracers).zipWithIndex.foreach { case (t, i) =>
        t.writeTo(s"${a.out}.spans.jsonl", append = i > 0)
      }
    }
    res.info("size") = Map("objects" -> c.objects, "frames" -> c.frames, "miss_rate" -> c.missRate,
      "jitter_px" -> c.jitterPx, "configs" -> f.configs, "placements" -> f.placements,
      "categories" -> f.categories, "chunks" -> f.chunks, "planning_interval" -> f.planningInterval,
      "buffer_chunks" -> f.bufferChunks, "setup_reps" -> SetupReps, "rounds" -> Rounds,
      "streams" -> Streams)
    res.info("fingerprint") = fingerprints
    res.info("placements") = f.configs * f.placements
    res.info("lp_variables") = f.configs * f.categories
    res.info("ops") = res.opMs.length
    res.layers("jvm.jit_s") = (Jvm.jitMs - jit0) / 1e3
    res.layers("jvm.gc_s") = (Jvm.gcMs - gc0) / 1e3
    res.layers("jvm.loadavg_end") = Jvm.loadAvg
  }
}
