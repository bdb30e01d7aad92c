package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Multi-JVM validation runner: executes the heaviest registered queries —
  * chosen to cover every construct that otherwise never crosses a JVM
  * boundary under `local[N]` — on a REAL `local-cluster[2,16,4096]`
  * (separate worker JVMs, torrent broadcast over RPC, serialized task
  * closures and aggregate buffers), then re-runs them on `local[32]` in the
  * same process and asserts row-for-row equality.
  *
  * Why this exists: every bench and correctness number before round 8 came
  * from one-JVM local mode, where "broadcast" is a reference hand-off and
  * custom aggregate buffers are never actually serialized between
  * processes. The three repo constructs with zero prior cross-JVM
  * evidence, and the queries that drive them here:
  *
  *   - `BloomMightContainBc` (SparkContext-broadcast bloom blob probed
  *     from codegen)                   -> q_part_triangles
  *   - `ClusterSnapshot` broadcast (batch placement evaluates requests in
  *     executors against a broadcast topology snapshot)
  *                                     -> placement_choose, placement_delete
  *   - typed per-block walk (placement verification: case-class
  *     encoders over sorted runs after one pinned exchange, behind a
  *     broadcast annotated topology)
  *                                     -> placement_verify,
  *                                        placement_hierarchy_stats
  *
  * plus the TypedImperativeAggregate tier whose partial buffers must
  * serialize across executors (q_heavy_hitters_cms: count-min blobs;
  * q_topk_event_values: top-k heaps), the iterative/graph pair with
  * localCheckpoint blocks living on executors (q_part_pagerank,
  * embedding_clusters), the spill-heaviest shuffle (q_dup_spans), and the
  * index-backed retrieval path whose postings are written by executors and
  * re-read term-pruned (q_hybrid_retrieval_indexed, q_ann_recall).
  *
  * Round-8 additions: q_bpe_merges (per-iteration localCheckpoint blocks
  * + a 1-row argmax collect over executor partials, repeated 6 times) and
  * q_trim_dup_spans (collect_list struct spans joined back and consumed
  * by a primitive mapPartitions loop — struct serialization across the
  * exchange).
  *
  * Run (SPARK_HOME is required so the master can fork worker JVMs — and
  * SPARK_SCALA_VERSION too, because the in-process ExecutorRunner builds
  * the executor command without the bin scripts that normally set it, and
  * the launcher's getScalaVersion otherwise dies with "Cannot find any
  * build directories"; the executor classpath gets this repo's compiled
  * classes via spark.executor.extraClassPath):
  *
  *   SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
  *     sbt -batch "Test/runMain graft.ClusterSmoke"
  *
  * Prints one line per query (`[cluster-smoke] <name> OK rows=<n>` or
  * `MISMATCH`/`ERROR ...`) and a final `[cluster-smoke] PASS|FAIL` line;
  * exits nonzero on any mismatch so it can gate CI.
  */
object ClusterSmoke {

  /** The curated high-cross-JVM-surface set — see class doc for what each
    * one exercises. Kept as documentation of the constructs that motivated
    * this gate and as a fast subset (`--curated`); the DEFAULT run is the
    * FULL registry (`SparkEntry.queries`), so every registered query —
    * including ones added after this list was written — gets row-equality
    * plus the <=2x serialization-cost pin on a real multi-JVM cluster. */
  val CuratedQueries: Seq[String] = Seq(
    "q_part_triangles",
    "placement_choose",
    "placement_delete",
    "placement_verify",
    "placement_hierarchy_stats",
    "q_heavy_hitters_cms",
    "q_topk_event_values",
    "q_part_pagerank",
    "embedding_clusters",
    "q_dup_spans",
    "q_hybrid_retrieval_indexed",
    "q_ann_recall",
    "q_bpe_merges",
    "q_trim_dup_spans",
    // round-8 additions with cross-JVM surface: the spectral moment
    // fold (executor long-array partials -> decimal merge -> driver
    // BigInt), the zone-map build+prune (executor-written files +
    // metadata collect), and the compaction plan (single-task NFD fold)
    "q_spectral_direction",
    "q_zonemap_prune",
    "q_compaction_plan",
    // the Aho-Corasick automaton is a custom Serializable broadcast —
    // the first graft broadcast of a hand-built object graph (maps +
    // arrays) to real executor JVMs; hilbert adds the codegen'd
    // expression, incremental-agg the full-outer merge join
    "q_blocklist_screen",
    "q_hilbert_layout",
    "q_incremental_agg",
    "q_zonemap_hilbert",
    "dedup_snm_pairs",
    // histogram: executor-held localCheckpoint blocks feed two consumers
    "q_value_histogram",
    // round-10: typed-Dataset codec decode + banded hamming pairing in
    // worker JVMs (the perceptual-hash media near-dup path)
    "multimodal_phash_pairs",
    // bounded-accuracy GK sketch: ApproximatePercentile partial buffers
    // serialize executor->executor for the merge (local[N] never
    // exercises that path), then the broadcast claims join runs the
    // counting pass in worker JVMs
    "q_value_histogram_bounded")

  /** Canonical row-set form: every cell rendered to a stable string
    * (binary cells by content), rows sorted — order-insensitive equality,
    * the same discipline as the DuckDB oracle compare. Cells join on
    * \\u0001 (a byte no rendered cell contains), so a cross-JVM
    * cell-boundary shift — ("ab","c") vs ("a","bc") — can never
    * canonicalize to the same row string. */
  private[graft] def canon(df: DataFrame): Seq[String] =
    df.collect().toSeq.map { r =>
      r.toSeq.map {
        case b: Array[Byte] => java.util.Arrays.toString(b)
        case s: Seq[_]      => s.mkString("[", ",", "]")
        case x              => String.valueOf(x)
      }.mkString("\u0001")
    }.sorted

  /** Spark memory-string to MB (no suffix = MB, Spark's own convention
    * for `spark.executor.memory`). Accepts both one- and two-letter
    * suffix forms ("3g" and "3gb"), matching the grammar Spark's own
    * JavaUtils.byteStringAs allows — a valid setting must not crash the
    * fail-fast capacity guard. */
  private[graft] def memMb(s: String): Long = {
    val t0 = s.trim.toLowerCase
    val t = if (t0.length >= 2 && t0.endsWith("b") &&
                !t0.charAt(t0.length - 2).isDigit) t0.dropRight(1)
            else t0
    val (num, mult) =
      if (t.endsWith("t")) (t.dropRight(1), 1024L * 1024)
      else if (t.endsWith("g")) (t.dropRight(1), 1024L)
      else if (t.endsWith("m")) (t.dropRight(1), 1L)
      else if (t.endsWith("k")) (t.dropRight(1), 0L) // rounds down; <1 MB
      else (t, 1L)
    val n = num.toLong
    if (mult == 0L) n / 1024 else n * mult
  }

  private[graft] def session(master: String, repoClasses: String): SparkSession = {
    // Fail FAST on an executor-memory ask the worker can't host: the
    // standalone master silently never allocates executors when
    // spark.executor.memory exceeds the per-worker capacity in the
    // local-cluster[n,cores,capacityMB] master string, and the run hangs
    // at the warmup job with no diagnostic.
    for (m <- "local-cluster\\[\\d+,\\d+,(\\d+)\\]".r.findFirstMatchIn(master);
         ask <- sys.env.get("GRAFT_SMOKE_EXEC_MEM")) {
      val cap = m.group(1).toLong
      require(memMb(ask) <= cap,
        s"GRAFT_SMOKE_EXEC_MEM=$ask (${memMb(ask)} MB) exceeds the " +
          s"local-cluster worker capacity $cap MB ($master) — the master " +
          "would never allocate executors and the run hangs at warmup")
    }
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    // worker JVMs are launched from SPARK_HOME and know nothing about this
    // repo — hand executors the compiled graft classes explicitly. Executor
    // heap defaults to Spark's 1g (plenty at sf0.01); larger-scale runs set
    // GRAFT_SMOKE_EXEC_MEM (must fit the worker capacity in the master
    // string, e.g. 3g under local-cluster[2,16,4096]).
    val withCp =
      if (master.startsWith("local-cluster"))
        b.config("spark.executor.extraClassPath", repoClasses)
          .config("spark.executor.memory",
            sys.env.getOrElse("GRAFT_SMOKE_EXEC_MEM", "1g"))
      else b
    withCp.getOrCreate()
  }

  /** Per-query measurement: best-of-2 wall seconds of a noop-sink run
    * plus task-metric shuffle-write and spill bytes from that best run —
    * the serialization/broadcast cost local[N] can never show. */
  final case class Perf(sec: Double, shuffleWrite: Long, spill: Long)

  /** The multi-JVM perf pin: cluster/local wall ratio must stay <= 2x.
    * Sub-[[GateFloorSec]] cluster rows are exempt — at that size the
    * ratio measures fixed per-job RPC/scheduling overhead, not
    * serialization (the documented placement_choose case: 2.03x on
    * 0.24 s over 23 KB of shuffle). Queries above the floor get a third
    * timed run so one noisy iteration can't fail the gate.
    *
    * A ratio breach additionally needs [[GateExcessAllowanceSec]] of
    * ABSOLUTE excess (cluster - 2x local) to fail: iterative queries run
    * dozens of tiny jobs, and at sf0.01 each job's extra cluster-mode
    * RPC round trip (~20-40 ms) can push a 1-2 s row past 2x with zero
    * serialization cost — the first full-registry run flagged three such
    * rows at 2.25-2.33x whose shuffle-write bytes were IDENTICAL cluster
    * vs local and which re-measured at 1.45-1.77x in isolation. A real
    * serialization regression (per-task re-broadcast, fat closures,
    * buffer re-encode) grows with data and shows seconds of excess, which
    * this allowance never absorbs. */
  val GateMaxRatio = 2.0
  val GateFloorSec = 0.75
  val GateExcessAllowanceSec = 0.5

  /** GRAFT_SMOKE_ROWS_ONLY=1 skips every timed run: correctness passes
    * only, one per arm — row-equality IS the gate and the perf pin is
    * waived. The 100x full-registry budget mode: with best-of-2/3 timed
    * runs the 100x pass costs ~3-4 suite-walls per arm, and the wall-time
    * ratio at that scale is already covered by the one-JVM sweep
    * (BENCH_SCALE100) plus the r13/r14 timed cluster arms at 10x.
    *
    * In this mode equality is checked on a DISTRIBUTED row-set digest
    * ([[digestRows]]) instead of a driver-side collect: data-proportional
    * outputs (the hilbert/zorder layouts are lineitem-sized — 60M rows at
    * 100x) held as canon strings for BOTH arms at once would dominate any
    * driver heap, and the digest keeps the gate's sensitivity (count +
    * two salted hash sums + the schema) while the driver holds four
    * strings per query. */
  private val RowsOnly = sys.env.get("GRAFT_SMOKE_ROWS_ONLY").contains("1")

  /** Order-insensitive row-set digest computed IN the executors: row
    * count plus two independently-salted sums of xxhash64 over each row's
    * JSON rendering (exact DECIMAL(38,0) sums — no overflow under ANSI),
    * plus the schema. Two equal digests ⇒ row-set equality up to 64-bit
    * hash collisions on two salts; nothing row-set-sized ever reaches the
    * driver. Rendering is to_json (arrays in order, binary as base64,
    * UTC timestamps), identical across arms because both run the same
    * Spark version and session timezone. */
  private[graft] def digestRows(df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.functions._
    val j = to_json(struct(df.columns.map(col): _*))
    val d = df.select(
      count(lit(1)).as("n"),
      sum(xxhash64(j).cast("decimal(38,0)")).as("h1"),
      sum(xxhash64(lit(31), j).cast("decimal(38,0)")).as("h2")).head()
    Seq(s"n=${d.get(0)}", s"h1=${d.get(1)}", s"h2=${d.get(2)}",
      "schema=" + df.schema.map(f => f.name + ":" + f.dataType.sql)
        .mkString(","))
  }

  private def runAll(spark: SparkSession, sfDir: String,
      names: Seq[String], extraRunIfSlow: Boolean = false)
      : Map[String, Either[String, (Seq[String], Perf)]] = {
    spark.sparkContext.setLogLevel("WARN")
    val shufW = new AtomicLong; val spill = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
    })
    // JVM/executor warmup so the first query doesn't absorb startup cost
    spark.range(10000000L).repartition(32).selectExpr("sum(id)").collect()
    names.map { name =>
      val res =
        try {
          val df = SparkEntry.queries(name)(spark, sfDir)
          val rows = if (RowsOnly) digestRows(df) else canon(df)
          // timed runs AFTER the correctness collect (plans warm):
          // best-of-2 noop-sink wall time, metrics from the best run
          def timed(): Perf = {
            Thread.sleep(300) // let the async listener bus drain
            shufW.set(0); spill.set(0)
            val t0 = System.nanoTime()
            SparkEntry.queries(name)(spark, sfDir)
              .write.format("noop").mode("overwrite").save()
            val sec = (System.nanoTime() - t0) / 1e9
            Thread.sleep(300)
            Perf(sec, shufW.get, spill.get)
          }
          var perf =
            if (RowsOnly) Perf(0.0, 0L, 0L)
            else (1 to 2).map(_ => timed()).minBy(_.sec)
          // gate-subject rows get one more sample (noise insurance)
          if (!RowsOnly && extraRunIfSlow && perf.sec >= GateFloorSec)
            perf = Seq(perf, timed()).minBy(_.sec)
          Right((rows, perf))
        }
        catch { case e: Throwable =>
          Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      name -> res
    }.toMap
  }

  /** The 2-worker master string. Per-worker capacity (MB) comes from
    * GRAFT_SMOKE_WORKER_MB (default 4096 — the sf0.01/10x envelope);
    * 100x runs raise it together with GRAFT_SMOKE_EXEC_MEM, which the
    * session builder validates against this capacity. */
  private def clusterMaster: String =
    s"local-cluster[2,16,${sys.env.getOrElse("GRAFT_SMOKE_WORKER_MB", "4096")}]"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    require(sys.env.contains("SPARK_HOME"),
      "local-cluster mode forks worker JVMs from SPARK_HOME — run with " +
        "SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13")
    require(sys.env.contains("SPARK_SCALA_VERSION"),
      "the forked executor command builder needs SPARK_SCALA_VERSION=2.13 " +
        "(normally exported by the bin scripts, absent here)")
    val repoClasses = new java.io.File("target/scala-2.13/classes").getAbsolutePath

    // default: the FULL registry; `--curated` = the documented fast
    // subset; any other args = an explicit query-name list
    val names: Seq[String] =
      if (args.isEmpty) SparkEntry.queries.keys.toSeq.sorted
      else if (args.sameElements(Array("--curated"))) CuratedQueries
      else args.toSeq

    val t0 = System.nanoTime()
    val cluster = session(clusterMaster, repoClasses)
    val clusterResults = runAll(cluster, sfDir, names, extraRunIfSlow = true)
    cluster.stop()
    val tCluster = (System.nanoTime() - t0) / 1e9

    val t1 = System.nanoTime()
    val local = session("local[32]", repoClasses)
    val localResults = runAll(local, sfDir, names)
    local.stop()
    val tLocal = (System.nanoTime() - t1) / 1e9

    def gateBreached(pc: Perf, pl: Perf): Boolean =
      pc.sec >= GateFloorSec && pc.sec / pl.sec > GateMaxRatio &&
        pc.sec - GateMaxRatio * pl.sec > GateExcessAllowanceSec

    var failed = 0
    var flagged = List.empty[String]
    names.foreach { name =>
      (clusterResults(name), localResults(name)) match {
        case (Right((c, pc)), Right((l, pl))) if c == l =>
          println(s"[cluster-smoke] $name OK " +
            (if (RowsOnly) c.mkString(" ") else s"rows=${c.size}"))
          if (!RowsOnly)
            println(f"[cluster-smoke-perf] $name cluster=${pc.sec}%.2f " +
              f"local=${pl.sec}%.2f ratio=${pc.sec / pl.sec}%.2f " +
              s"shufw_c=${pc.shuffleWrite} shufw_l=${pl.shuffleWrite} " +
              s"spill_c=${pc.spill} spill_l=${pl.spill}")
          if (!RowsOnly && gateBreached(pc, pl)) {
            flagged ::= name
            println(f"[cluster-smoke-gate] $name FLAGGED ratio=" +
              f"${pc.sec / pl.sec}%.2f > $GateMaxRatio%.1f with " +
              f"excess=${pc.sec - GateMaxRatio * pl.sec}%.2f s at " +
              f"cluster=${pc.sec}%.2f s — re-measuring fresh before " +
              "declaring a serialization regression")
          }
        case (Right((c, _)), Right((l, _))) =>
          failed += 1
          val onlyC = c.diff(l).take(3)
          val onlyL = l.diff(c).take(3)
          println(s"[cluster-smoke] $name MISMATCH cluster=${c.size} " +
            s"local=${l.size} onlyCluster=$onlyC onlyLocal=$onlyL")
        case (Left(e), _) =>
          failed += 1
          println(s"[cluster-smoke] $name ERROR(cluster) $e")
        case (_, Left(e)) =>
          failed += 1
          println(s"[cluster-smoke] $name ERROR(local) $e")
      }
    }

    // Perf-gate verdicts come from a SECOND, fresh measurement of only the
    // flagged queries. A full-registry pass is ~300 timed runs over ~25
    // minutes; empirically each long run produces a different single
    // outlier (2.2-4.9x) whose shuffle-write bytes are byte-identical to
    // the local arm and which re-measures at 1.2-1.8x in isolation — a
    // host hiccup, not serialization. A REAL regression is deterministic:
    // it reproduces in the fresh pair and fails here.
    var perfFailed = 0
    if (flagged.nonEmpty) {
      println(s"[cluster-smoke] re-measuring ${flagged.size} flagged " +
        s"quer${if (flagged.size == 1) "y" else "ies"}: " +
        flagged.sorted.mkString(", "))
      // A fresh cluster+local measurement pair for the given queries;
      // session/startup flakes land in Left instead of crashing the gate.
      def measurePair(qs: Seq[String])
          : Map[String, Either[String, (Perf, Perf)]] =
        try {
          // A session leaked by a mid-measure failure would make the next
          // builder's getOrCreate() silently reuse it and IGNORE the
          // requested master — the retry's "cluster" arm would then run on
          // the leftover local[32] session and vacuously pass. Stop
          // whatever is active first, stop each arm's session in a
          // finally, and verify the master actually took.
          SparkSession.getActiveSession.foreach(_.stop())
          val c2 = session(clusterMaster, repoClasses)
          require(c2.sparkContext.master.startsWith("local-cluster"),
            s"cluster arm got master ${c2.sparkContext.master}")
          val rc = try runAll(c2, sfDir, qs, extraRunIfSlow = true)
                   finally c2.stop()
          val l2 = session("local[32]", repoClasses)
          require(l2.sparkContext.master == "local[32]",
            s"local arm got master ${l2.sparkContext.master}")
          val rl = try runAll(l2, sfDir, qs) finally l2.stop()
          qs.map { n =>
            n -> ((rc(n), rl(n)) match {
              case (Right((_, pc)), Right((_, pl))) => Right((pc, pl))
              case (Left(e), _) => Left(s"cluster: $e")
              case (_, Left(e)) => Left(s"local: $e")
            })
          }.toMap
        } catch { case e: Throwable =>
          SparkSession.getActiveSession.foreach(_.stop())
          qs.map(n => n -> (Left(s"session: ${e.getMessage}")
            : Either[String, (Perf, Perf)])).toMap
        }
      val first = measurePair(flagged)
      // one more attempt for infrastructure failures before giving up on
      // a measurement (a flake must not decide the verdict either way)
      val needRetry = flagged.filter(first(_).isLeft)
      val second =
        if (needRetry.nonEmpty) measurePair(needRetry)
        else Map.empty[String, Either[String, (Perf, Perf)]]
      flagged.foreach { name =>
        val r = if (first(name).isRight) first(name)
                else second.getOrElse(name, first(name))
        r match {
          case Right((pc, pl)) =>
            val bad = gateBreached(pc, pl)
            if (bad) perfFailed += 1
            println(f"[cluster-smoke-gate] $name retry " +
              f"${if (bad) "FAIL" else "OK"} cluster=${pc.sec}%.2f " +
              f"local=${pl.sec}%.2f ratio=${pc.sec / pl.sec}%.2f")
          case Left(e) =>
            // An infrastructure error while RE-measuring is not a
            // confirmed ratio breach: this query's rows already matched
            // in the main pass and the flag itself is the statistical
            // noise this second pass exists to dismiss. Report loudly,
            // but do not convert a noise flag into a hard gate failure.
            println(s"[cluster-smoke-gate] $name retry ERROR " +
              s"(infrastructure, after a second attempt): $e — rows " +
              "matched in the main pass; NOT counted as perfFailed")
        }
      }
    }
    println(f"[cluster-smoke] ${if (failed + perfFailed == 0) "PASS" else "FAIL"} " +
      f"queries=${names.size} failed=$failed perfFailed=$perfFailed " +
      f"flagged=${flagged.size} " +
      f"clusterSec=$tCluster%.1f localSec=$tLocal%.1f sf=$sfDir")
    if (failed + perfFailed > 0) sys.exit(1)
  }
}
