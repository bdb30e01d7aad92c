package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Tokenize
import graft.operators.{Placement, Verification}
import graft.pipeline.{Curation, Dedup, Sampling, TextAnalysis}
import graft.plans.{ClusterSnapshot, NodeMeta, PlacementRequest, PolicyEngine, StorageMeta}

/** What one operation did: how many items it processed, the output-check
  * failures it found, and the wall seconds of its named steps (for the
  * workload's own figures). */
final case class OpResult(items: Long, errors: Seq[String], steps: Map[String, Double])

/** Per-partition summary of a typed output check. */
final case class PartCheck(rows: Long, errors: Long,
                           firstError: String, hashSum: Long, hashXor: Long)

/** Order-independent content digest of a relation: row count, sum of
  * 31-bit-reduced row hashes, xor of row hashes. */
final case class Digest(rows: Long, sum: Long, xor: Long)

object Digest {
  def of(parts: Array[PartCheck]): Digest =
    Digest(parts.map(_.rows).sum, parts.map(_.hashSum).sum, parts.map(_.hashXor).foldLeft(0L)(_ ^ _))

  def rowHash(fields: Any*): Long = fields.foldLeft(42L) {
    case (h, v: Long) => XXH64.hashLong(v, h)
    case (h, v: Int) => XXH64.hashInt(v, h)
    case (h, v: String) =>
      val u = UTF8String.fromString(v)
      XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes(), h)
    case (h, _) => h
  }
}

/** One benchmark workload: inputs generated from the seed, and an
  * operation run repeatedly against them. */
abstract class Workload(val spark: SparkSession, val seed: Long, val work: File) {
  def name: String
  /** Generate the inputs from the seed and write them to `work`. Set-up
    * runs this several times and reports the median. */
  def generate(): Unit
  def warmupOps: Int
  def run(i: Int, t: Calls): OpResult
  /** Force each layer call's output on its own (traced run only) where the
    * timed operation forces only the composed result. */
  def forceStages(t: Calls): Unit = ()
  /** Output checks that need the whole run; failures. */
  def finish(): Seq[String] = Nil
  /** The workload's own figures, named as in the README. */
  def figures(ops: Seq[(OpResult, Double)]): Seq[(String, Double, String)]

  protected def path(n: String): String = new File(work, n).getAbsolutePath

  protected def timed[T](steps: mutable.Map[String, Double], k: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally steps(k) = steps.getOrElse(k, 0.0) + (System.nanoTime() - t0) / 1e9
  }

  protected var reference = Option.empty[Map[String, Digest]]

  /** Compare an operation's digests with the first operation's (run in
    * set-up): the same inputs must give the same outputs. */
  protected def sameAsSetup(d: Map[String, Digest]): Seq[String] = reference match {
    case None => reference = Some(d); Nil
    case Some(ref) => d.collect { case (k, v) if ref.get(k).exists(_ != v) =>
      s"$k digest $v differs from set-up digest ${ref(k)}" }.toSeq
  }
}

object Workload {
  def apply(name: String, spark: SparkSession, seed: Long, work: File): Workload = name match {
    case "placement" => new PlacementWorkload(spark, seed, work)
    case "corpus" => new CorpusWorkload(spark, seed, work)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

// ==================================================================== placement

object PlacementSizes {
  val Nodes = 1000
  val Azs = 3
  val RacksPerAz = 8
  val Blocks = 30000L
  val Requests = 10000L
}

/** Executor-side checks of the placement operators' outputs. Every
  * expected fact is regenerated from the seed where the row is checked. */
object PlacementChecks {
  import Gen._

  /** choosePlacements rows, grouped per request (flatMap keeps a request's
    * picks contiguous): picks == additional when the request's domain is
    * non-empty, 0 otherwise; distinct nodes; no exclusion, health or
    * storage leak; every pick inside the selection subtree. */
  def picks(seed: Long, bc: Broadcast[(Fleet, Set[String])])(
      it: Iterator[Placement.PickRow]): Iterator[PartCheck] = {
    val (f, eligible) = bc.value
    val healthy = f.nodes.filter(_.healthy).map(_.uuid).toSet
    val domains = mutable.Map.empty[(String, Seq[String]), Int]
    var rows, errors, sum, xor = 0L
    var first = ""
    def err(m: String): Unit = { errors += 1; if (first.isEmpty) first = m }
    val buf = it.buffered
    while (buf.hasNext) {
      val id = buf.head.request_id
      val ps = mutable.ArrayBuffer.empty[Placement.PickRow]
      while (buf.hasNext && buf.head.request_id == id) ps += buf.next()
      val q = request(seed, f, id)
      val root = selectionRoot(f, q)
      val domain = domains.getOrElseUpdate((root, q.excludes), domainSize(f, eligible, q))
      val expected = if (domain == 0) 0 else q.additional
      if (ps.size != expected) err(s"request $id: ${ps.size} picks, expected $expected")
      if (ps.map(_.datanode_uuid).distinct.size != ps.size) err(s"request $id: repeated node")
      ps.foreach { p =>
        val st = f.storageById(p.storage_id)
        val n = f.nodeByUuid(p.datanode_uuid)
        if (st.nodeUuid != n.uuid) err(s"request $id: storage ${st.id} not on ${n.uuid}")
        if (q.excludes.exists(n.path.startsWith)) err(s"request $id: excluded node ${n.path}")
        if (!healthy(n.uuid)) err(s"request $id: unhealthy node ${n.uuid}")
        if (st.state != "NORMAL" || st.tpe != "DISK" || st.remaining < BlockSize)
          err(s"request $id: unusable storage ${st.id}")
        if (!n.path.startsWith(root + "/")) err(s"request $id: pick outside $root")
        val h = Digest.rowHash(p.request_id, p.pick_order, p.storage_id, p.datanode_uuid)
        sum += java.lang.Math.floorMod(h, 2147483647L) ; xor ^= h
      }
      rows += ps.size
    }
    Iterator(PartCheck(rows, errors, first, sum, xor))
  }

  /** chooseDeletions rows, grouped per block: removals are distinct
    * candidates of the block and number exactly its excess. */
  def removals(seed: Long, bc: Broadcast[(Fleet, Set[String])])(
      it: Iterator[Placement.RemovalRow]): Iterator[PartCheck] = {
    val (f, _) = bc.value
    var rows, errors, sum, xor = 0L
    var first = ""
    def err(m: String): Unit = { errors += 1; if (first.isEmpty) first = m }
    val buf = it.buffered
    while (buf.hasNext) {
      val id = buf.head.block_id
      val rs = mutable.ArrayBuffer.empty[Placement.RemovalRow]
      while (buf.hasNext && buf.head.block_id == id) rs += buf.next()
      val b = block(seed, f, id)
      val cands = b.storageIds.toSet
      if (rs.size != b.excess) err(s"block $id: ${rs.size} removals, excess ${b.excess}")
      if (rs.map(_.storage_id).distinct.size != rs.size) err(s"block $id: repeated removal")
      rs.foreach { r =>
        if (!cands(r.storage_id)) err(s"block $id: removed non-candidate ${r.storage_id}")
        val h = Digest.rowHash(r.block_id, r.removal_order, r.storage_id)
        sum += java.lang.Math.floorMod(h, 2147483647L); xor ^= h
      }
      rows += rs.size
    }
    Iterator(PartCheck(rows, errors, first, sum, xor))
  }
}

final case class ReplicaRow(block_id: Long, replica_index: Int, datanode_uuid: String,
                            storage_id: String)
final case class BlockRow(block_id: Long, require_replica: Long)

/** Placement (the paper's core): a fleet of ~1k datanodes x 12 storages in
  * 3 AZs; one operation is snapshot + choosePlacements over every request,
  * full verifyPlacements over every block, and chooseDeletions over every
  * block's replicas. */
final class PlacementWorkload(spark: SparkSession, seed: Long, work: File)
    extends Workload(spark, seed, work) {
  import PlacementSizes._
  import spark.implicits._

  val name = "placement"
  val warmupOps = 3
  private var fleet: Gen.Fleet = _
  private var bc: Broadcast[(Gen.Fleet, Set[String])] = _
  private var expectedPicks = 0L
  private var expectedExcess = 0L
  private var expectedNotEnough = 0L
  private var blockIdHashSum = 0L

  def generate(): Unit = {
    fleet = Gen.fleet(seed, Nodes, Azs, RacksPerAz)
    val eligible = Gen.eligibleNodes(fleet)
    if (bc != null) bc.destroy()
    bc = spark.sparkContext.broadcast((fleet, eligible))
    val f = fleet
    val s = seed
    fleet.nodes.toSeq.map(n => (n.idx.toLong, n.uuid, n.ip, s"host-${n.idx}", n.dc, n.rack, n.path))
      .toDF("node_id", "datanode_uuid", "ip", "hostname", "dc", "rack", "path")
      .coalesce(1).write.mode("overwrite").parquet(path("topology"))
    fleet.nodes.toSeq.map(n => (n.uuid, n.registered, n.decomInProgress, n.decommissioned,
        n.disallowed, n.lastHeartbeatMs, n.xceivers))
      .toDF("datanode_uuid", "registered", "decommission_in_progress", "decommissioned",
        "disallowed", "last_heartbeat_ms", "xceiver_count")
      .coalesce(1).write.mode("overwrite").parquet(path("datanodes"))
    fleet.storages.toSeq.map(st => (st.id, st.nodeUuid, st.state, st.tpe, st.capacity,
        st.capacity - st.remaining, st.remaining))
      .toDF("storage_id", "datanode_uuid", "state", "type", "capacity", "used", "remaining")
      .coalesce(1).write.mode("overwrite").parquet(path("storages"))
    val bcf = bc
    spark.range(0, Requests).as[Long].map { id =>
      val q = Gen.request(s, bcf.value._1, id)
      Placement.RequestRow(id, q.additional, q.writer, q.excludes, Gen.BlockSize)
    }.write.mode("overwrite").parquet(path("requests"))
    spark.range(0, Blocks).as[Long].flatMap { id =>
      val b = Gen.block(s, bcf.value._1, id)
      b.storageIds.indices.map(i => ReplicaRow(id, i, s"dn-${b.replicaNodes(i)}", b.storageIds(i)))
    }.write.mode("overwrite").parquet(path("replicas"))
    spark.range(0, Blocks).as[Long].map(id => BlockRow(id, Gen.block(s, bcf.value._1, id).require))
      .write.mode("overwrite").parquet(path("blocks"))

    // expected facts and generator self-checks, from the same pure functions
    var picks, excess, under, over, hashSum, excluding, writers = 0L
    val domains = mutable.Map.empty[(String, Seq[String]), Int]
    var r = 0L
    while (r < Requests) {
      val q = Gen.request(seed, f, r)
      val d = domains.getOrElseUpdate((Gen.selectionRoot(f, q), q.excludes),
        Gen.domainSize(f, eligible, q))
      Gen.check(d == 0 || d >= q.additional, s"request $r domain $d below ${q.additional}")
      if (d > 0) picks += q.additional
      if (q.excludes.nonEmpty) excluding += 1
      if (q.writer.nonEmpty) writers += 1
      r += 1
    }
    var b = 0L
    while (b < Blocks) {
      val bl = Gen.block(seed, f, b)
      excess += bl.excess
      if (bl.excess > 0) over += 1
      if (bl.replicaNodes.length < bl.require) under += 1
      hashSum += java.lang.Math.floorMod(XXH64.hashLong(b, 42L), 2147483647L)
      b += 1
    }
    expectedPicks = picks; expectedExcess = excess; expectedNotEnough = under
    blockIdHashSum = hashSum
    Gen.check(over * 100 / Blocks >= 15 && over * 100 / Blocks <= 25, s"over-replicated share $over/$Blocks")
    Gen.check(under * 100 / Blocks >= 5 && under * 100 / Blocks <= 15, s"under-replicated share $under/$Blocks")
    Gen.check(writers * 100 / Requests >= 30 && writers * 100 / Requests <= 37, s"writer share $writers")
    Gen.check(excluding * 100 / Requests >= 16 && excluding * 100 / Requests <= 22, s"exclude share $excluding")
    Gen.check(eligible.size * 100 / Nodes >= 85, s"eligible nodes ${eligible.size}")
  }

  private def read(n: String): DataFrame = spark.read.parquet(path(n))

  private def summarize(what: String, parts: Array[PartCheck], expectedRows: Long,
                        errs: mutable.ArrayBuffer[String]): Digest = {
    val bad = parts.map(_.errors).sum
    if (bad > 0) errs += s"$what: $bad check failures, first: ${parts.map(_.firstError).find(_.nonEmpty).get}"
    val rows = parts.map(_.rows).sum
    if (rows != expectedRows) errs += s"$what: $rows rows, expected $expectedRows"
    Digest.of(parts)
  }

  def run(i: Int, t: Calls): OpResult = t.op(i, name) {
    val steps = mutable.Map.empty[String, Double]
    val errs = mutable.ArrayBuffer.empty[String]
    val topology = read("topology")
    val snap = timed(steps, "place") {
      t.build("snapshot") {
        Placement.snapshot(read("storages"), read("datanodes"), topology, Gen.AsOfMs, Gen.StaleMs)
      }
    }
    val (s, b) = (seed, bc)
    val chooseD = timed(steps, "place") {
      val picks = t.build("choose") { Placement.choosePlacements(spark, snap, read("requests")) }
      t.exec("choose") {
        summarize("choose", picks.as[Placement.PickRow]
          .mapPartitions(PlacementChecks.picks(s, b)).collect(), expectedPicks, errs)
      }
    }
    val verifyD = timed(steps, "verify") {
      val verdicts = t.build("verify") {
        Verification.verifyPlacements(spark, read("replicas"), topology, read("blocks"))
      }
      t.exec("verify") {
        // count and id-hash sum both match only with one verdict per block
        val r = verdicts
          .agg(count(lit(1)), sum(pmod(xxhash64(col("block_id")), lit(2147483647L))),
            sum(when(col("reason_code") === "not_enough", 1L).otherwise(0L)),
            sum(pmod(xxhash64(verdicts.columns.map(col): _*), lit(2147483647L))),
            bit_xor(xxhash64(verdicts.columns.map(col): _*)))
          .head()
        if (r.getLong(0) != Blocks || r.getLong(1) != blockIdHashSum)
          errs += s"verify: ${r.getLong(0)} verdicts, expected one per block of $Blocks"
        if (r.getLong(2) != expectedNotEnough)
          errs += s"verify: ${r.getLong(2)} not_enough verdicts, expected $expectedNotEnough"
        Digest(r.getLong(0), r.getLong(3), r.getLong(4))
      }
    }
    val deleteD = timed(steps, "delete") {
      val removals = t.build("delete") {
        val candidates = read("replicas").join(read("blocks"), "block_id")
          .select("block_id", "require_replica", "storage_id")
        Placement.chooseDeletions(spark, snap, candidates)
      }
      t.exec("delete") {
        summarize("delete", removals.as[Placement.RemovalRow]
          .mapPartitions(PlacementChecks.removals(s, b)).collect(), expectedExcess, errs)
      }
    }
    errs ++= sameAsSetup(Map("choose" -> chooseD, "verify" -> verifyD, "delete" -> deleteD))
    OpResult(Requests + 2 * Blocks, errs.toSeq, steps.toMap)
  }

  def figures(ops: Seq[(OpResult, Double)]): Seq[(String, Double, String)] = {
    def med(k: String) = Stats.median(ops.map(_._1.steps(k)))
    Seq(("place_requests_per_s", Requests / med("place"), "1/s"),
      ("verify_blocks_per_s", Blocks / med("verify"), "1/s"),
      ("delete_blocks_per_s", Blocks / med("delete"), "1/s"))
  }
}

// ====================================================================== corpus

/** Training-data pipeline over a seeded parquet corpus with injected exact
  * duplicates, near-duplicates and a held-out benchmark slice that some
  * corpus documents quote (contamination). */
final class CorpusWorkload(spark: SparkSession, seed: Long, work: File)
    extends Workload(spark, seed, work) {
  import spark.implicits._

  val name = "corpus"
  val warmupOps = 3
  val Docs = 4000
  private var c: Gen.Corpus = _
  private var nCorpus = 0L
  /** Per-language token budget: binding for English (3/7 of the documents)
    * only. */
  private val TokenBudget = 90000L

  def generate(): Unit = {
    c = Gen.corpus(seed, Docs)
    c.docs.toSeq.map(d => (d.doc_id, d.text, d.lang, c.heldout(d.doc_id)))
      .toDF("doc_id", "text", "lang", "heldout")
      .repartition(8).write.mode("overwrite").parquet(path("documents"))
    nCorpus = Docs - c.heldout.size
  }

  private def docs = spark.read.parquet(path("documents"))
  private def corpus = docs.where(!col("heldout")).select("doc_id", "text", "lang")
  private def bench = docs.where(col("heldout")).select("doc_id", "text", "lang")

  /** The pipeline's layer calls, each stage's result by span name. */
  private def stages(t: Calls): Map[String, DataFrame] = {
    val corp = corpus
    val quality = t.build("quality") {
      TextAnalysis.textStats(corp).where(col("quality_ok")).select("doc_id") }
    val keep = t.build("exact") { Dedup.exact(corp).where(col("keep")).select("doc_id") }
    val pairs = t.build("minhash") { Dedup.minhashLshPairs(corp) }
    val nonCanonical = t.build("clusters") {
      Dedup.resolveClusters(pairs).where(col("doc_id") =!= col("cluster_id")).select("doc_id") }
    val contaminated = t.build("contamination") { Dedup.contamination(corp, bench).select("doc_id") }
    val survivors = corp
      .join(quality, Seq("doc_id"), "left_semi")
      .join(keep, Seq("doc_id"), "left_semi")
      .join(nonCanonical, Seq("doc_id"), "left_anti")
      .join(contaminated, Seq("doc_id"), "left_anti")
    val mixed = t.build("mix") { Sampling.budgetedMix(survivors, TokenBudget) }
    val packed = t.build("pack") {
      Curation.packSequences(survivors.join(mixed.select("doc_id"), Seq("doc_id"), "left_semi")) }
    Map("quality" -> quality, "exact" -> keep, "minhash" -> pairs, "clusters" -> nonCanonical,
      "contamination" -> contaminated, "survivors" -> survivors, "mix" -> mixed, "pack" -> packed)
  }

  /** At most one member of each exact-duplicate group is kept. */
  private def exactGroups(kept: Set[Long], what: String): Seq[String] =
    c.exactDupOf.groupBy(_._2).toSeq.collect { case (src, copies) if (copies.keySet + src).count(kept) > 1 =>
      s"$what: exact duplicates of $src kept" }

  /** Dedup and decontamination invariants over a set of kept documents. */
  private def membership(kept: Set[Long], what: String): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    kept.find(c.contaminated).foreach(d => errs += s"$what: contaminated doc $d kept")
    errs ++= exactGroups(kept, what)
    val nearBoth = c.nearDupOf.count { case (d, src) => kept(d) && kept(src) }
    if (nearBoth * 10 > c.nearDupOf.size)
      errs += s"$what: $nearBoth of ${c.nearDupOf.size} near-duplicate pairs both kept"
    errs.toSeq
  }

  def run(i: Int, t: Calls): OpResult = t.op(i, name) {
    val packed = stages(t)("pack")
    val rows = t.exec("pack") {
      packed.select("doc_id", "bucket", "n_tokens", "seq", "seq_offset").collect() }
    val errs = mutable.ArrayBuffer.empty[String]
    val kept = rows.map(_.getLong(0)).toSet
    if (rows.length != kept.size) errs += "pack: a document packed twice"
    if (kept.isEmpty) errs += "pack: nothing packed"
    errs ++= membership(kept, "pack")
    val d = rows.foldLeft(Digest(0, 0, 0)) { (acc, r) =>
      val h = Digest.rowHash(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      Digest(acc.rows + 1, acc.sum + java.lang.Math.floorMod(h, 2147483647L), acc.xor ^ h)
    }
    errs ++= sameAsSetup(Map("pack" -> d))
    OpResult(nCorpus, errs.toSeq, Map.empty)
  }

  /** Checked once after the window: the documents `Dedup.exact` keeps, and
    * the survivors of dedup and decontamination before the token budget
    * of `budgetedMix` drops documents. Each may number at most the corpus
    * minus its injected exact duplicates. */
  override def finish(): Seq[String] = {
    val st = stages(Untraced)
    val limit = nCorpus - c.exactDupOf.size
    Seq("exact", "survivors").flatMap { k =>
      val ids = st(k).select("doc_id").collect().map(_.getLong(0))
      val kept = ids.toSet
      Seq(
        if (ids.length != kept.size) Seq(s"$k: a document twice") else Nil,
        if (kept.size > limit) Seq(s"$k: ${kept.size} kept > $nCorpus docs - ${c.exactDupOf.size} exact duplicates")
        else Nil,
        if (k == "exact") exactGroups(kept, k) else membership(kept, k)).flatten
    }
  }

  override def forceStages(t: Calls): Unit = t.op(-1, "corpus-stages") {
    stages(Untraced).filter(_._1 != "survivors").foreach { case (k, df) =>
      t.exec(k) { df.write.format("noop").mode("overwrite").save() }
    }
  }

  def figures(ops: Seq[(OpResult, Double)]): Seq[(String, Double, String)] =
    Seq(("corpus_docs_per_s", nCorpus / Stats.median(ops.map(_._2)), "1/s"))
}

// ============================================================ direct driver calls

/** Driver-side micro-timings of single layer functions, outside Spark:
  * `plans.PolicyEngine` and `functions.Tokenize`. Same seeded inputs in
  * every workload, so the figures compare across workloads. */
object DirectCalls {
  def policy(seed: Long): Seq[(String, Double, String)] = {
    import PlacementSizes._
    val f = Gen.fleet(seed, Nodes, Azs, RacksPerAz)
    val snap = ClusterSnapshot(
      f.nodes.toVector.map(n => NodeMeta(n.uuid, n.path, n.healthy, n.xceivers)),
      f.storages.toVector.map(s => StorageMeta(s.id, s.nodeUuid, s.state, s.tpe, s.remaining)))
    val reqs = (0L until 2000L).map { id =>
      val q = Gen.request(seed, f, id)
      PlacementRequest(id, q.additional, q.writer, Nil, returnChosen = false, q.excludes,
        Gen.BlockSize, Map("DISK" -> q.additional.toLong))
    }
    val blocks = Iterator.from(0).map(i => Gen.block(seed, f, i)).filter(_.excess > 0).take(2000).toVector
    var picked = 0L
    val chooseUs = Stats.perCall(reqs.size) {
      picked = reqs.map(r => PolicyEngine.chooseTarget(snap, r, new scala.util.Random(r.requestId)).size.toLong).sum
    } * 1e6
    val deleteUs = Stats.perCall(blocks.size) {
      blocks.foreach(b => PolicyEngine.chooseReplicasToDelete(snap, b.storageIds.toSeq, b.require))
    } * 1e6
    Seq(("policy.choose_target_us", chooseUs, "us"), ("policy.delete_us", deleteUs, "us"),
      ("choose.fill_ratio", picked.toDouble / reqs.map(_.additional).sum, "ratio"))
  }

  def tokenize(seed: Long): Seq[(String, Double, String)] = {
    val texts = Gen.corpus(seed, 5000).docs.toSeq.map(d => UTF8String.fromString(d.text))
    var n = 0L
    val ns = Stats.perCall(texts.size) { n = texts.map(t => Tokenize.tokenCount(t).toLong).sum } * 1e9
    require(n > 0)
    Seq(("tokenize.ns_per_doc", ns, "ns"))
  }
}

object Stats {
  /** Median, the mean of the middle two for an even count (NaN for no
    * samples). */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }

  /** Seconds per call of `body` (which makes `calls` calls): two warm-up
    * passes, then the median of seven timed passes. */
  def perCall(calls: Int)(body: => Unit): Double = {
    body; body
    median((1 to 7).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9 / calls
    })
  }
}
