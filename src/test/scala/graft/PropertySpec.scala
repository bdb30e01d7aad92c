package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Verification
import graft.plans.{ClusterSnapshot, NodeMeta, PlacementRequest, PolicyEngine, StorageMeta}
import graft.util.LazyIterators

/** Property-style checks over seeded random inputs: the Spark verification
  * operator is compared against an *independent* in-memory
  * re-implementation of the reference rules, and engine invariants hold
  * for arbitrary inputs. */
class PropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // small clean topology: 2 DCs x 3 racks x 3 hosts
  private val nodes = for {
    dc <- Vector("even", "odd"); rack <- 0 until 3; host <- 0 until 3
  } yield NodeMeta(s"dn-$dc-$rack-$host", s"/$dc/rack_$rack/10.0.$rack.$host",
    healthy = true, xceivers = 0)
  private val snap = ClusterSnapshot(nodes,
    nodes.map(n => StorageMeta(s"st-${n.uuid}", n.uuid, "NORMAL", "DISK", 1L << 40)))
  private lazy val topoDf = nodes.map(n => (n.uuid, n.path,
      n.path.split('/')(1), n.path.split('/')(2)))
    .toDF("datanode_uuid", "path", "dc", "rack").cache()

  /** A model topology node: uuid, `/dc/rack/leaf` path and printed ip. */
  private case class ModelNode(uuid: String, path: String, ip: String)

  /** Independent model of verifyBlockPlacementBalancedOptimal (reference
    * rules and message texts, written directly from the spec — no shared
    * code with the Spark operator): (satisfied, reason_code, reason). */
  private def modelVerify(topo: Seq[ModelNode], replicaUuids: Seq[String],
                          require: Int): (Boolean, String, String) = {
    val located = replicaUuids.map(u => topo.find(_.uuid == u).get)
    val nodeList = located.map(_.ip).sorted.map(ip => s"($ip)").mkString(",")
    val edges = located.flatMap(n => PolicyEngine.ancestorEdges(n.path))
    val perParentChild = edges.groupBy(identity).view.mapValues(_.size).toMap
    val byParent = perParentChild.groupBy(_._1._1)
    val childrenOf = topo.flatMap(n => PolicyEngine.ancestorEdges(n.path))
      .distinct.groupBy(_._1).view.mapValues(_.size).toMap
    val optimal = byParent.forall { case (parent, cc) =>
      val groups = cc.size
      val leaf = cc.values.sum
      val available = childrenOf(parent)
      val spreadOk = if (leaf <= available) groups == leaf else groups == available
      spreadOk && cc.values.max - cc.values.min <= 1
    }
    if (located.isEmpty || located.size < require)
      (false, "not_enough", s"not enough storage nodes:[$nodeList], require:$require")
    else if (!optimal)
      (false, "not_optimal",
        s"placement not optimal, datanodes:[$nodeList], require replica:$require")
    else (true, null, null)
  }

  private def modelNodes(ns: Seq[NodeMeta]): Seq[ModelNode] =
    ns.map(n => ModelNode(n.uuid, n.path, n.path.split('/')(3)))

  /** 3 DCs whose racks hold 1 to 4 hosts; ips differ from the path leaves. */
  private val uneven: Seq[ModelNode] = for {
    (dc, hostsPerRack) <- Seq("az1" -> Seq(1, 3), "az2" -> Seq(2, 2, 4), "az3" -> Seq(1))
    (nHosts, rack) <- hostsPerRack.zipWithIndex
    host <- 0 until nHosts
  } yield ModelNode(s"dn-$dc-$rack-$host", s"/$dc/r$rack/h$host",
    s"10.${dc.last}.$rack.$host")

  /** Verifies 200 seeded random replica sets over `topo` in one Spark job,
    * checks every verdict against the model and returns the reason codes
    * seen (null for satisfied). */
  private def checkAgainstModel(topo: Seq[ModelNode], topoDf: DataFrame,
                                maxReplicas: Int, maxRequire: Int): Set[String] = {
    val cases = (1 to 200).map { i =>
      val rnd = new Random(i)
      val n = rnd.nextInt(maxReplicas + 1) // duplicates allowed
      val uuids = Vector.fill(n)(topo(rnd.nextInt(topo.size)).uuid)
      (i.toLong, uuids, 1 + rnd.nextInt(maxRequire))
    }
    val replicas = cases.flatMap { case (id, uuids, _) =>
      uuids.zipWithIndex.map { case (u, ix) => (id, ix, u) }
    }.toDF("block_id", "replica_index", "datanode_uuid")
    val blocks = cases.map { case (id, _, req) => (id, req) }
      .toDF("block_id", "require_replica")
    val got = Verification.verifyBalancedOptimal(replicas, topoDf, blocks)
      .collect().map(r => r.getLong(0) -> ((r.getAs[Boolean]("satisfied"),
        r.getAs[String]("reason_code"), r.getAs[String]("reason")))).toMap
    assert(got.size == cases.size)
    cases.foreach { case (id, uuids, req) =>
      assert(got(id) == modelVerify(topo, uuids, req),
        s"case $id uuids=$uuids require=$req")
    }
    got.values.map(_._2).toSet
  }

  test("property: Spark verification agrees with the independent model " +
    "on 200 random replica sets") {
    val codes = checkAgainstModel(modelNodes(nodes), topoDf, maxReplicas = 7, maxRequire = 5)
    assert(codes.contains(null), "degenerate sample: no satisfied case generated")
  }

  test("property: verification agrees with the model over 3 DCs whose " +
    "racks differ in size") {
    val df = uneven.map(n => (n.uuid, n.path, n.path.split('/')(1),
        n.path.split('/')(2), n.ip))
      .toDF("datanode_uuid", "path", "dc", "rack", "ip")
    val codes = checkAgainstModel(uneven, df, maxReplicas = 9, maxRequire = 7)
    assert(codes == Set(null, "not_enough", "not_optimal"),
      s"degenerate sample: reason codes seen $codes")
  }

  test("property: chooseTarget picks are distinct, filtered, bounded") {
    for (seed <- 1 to 60) {
      val rnd = new Random(seed)
      val k = 1 + rnd.nextInt(12)
      val excl = rnd.nextInt(3) match {
        case 0 => Nil
        case 1 => Seq("/even")
        case 2 => Seq("/odd")
      }
      val req = PlacementRequest(seed, k, None, Nil, returnChosen = false,
        excludes = excl, blockSize = 12, policy = Map("DISK" -> k.toLong))
      val picks = PolicyEngine.chooseTarget(snap, req, new Random(seed))
      assert(picks.size <= k)
      assert(picks.map(_.nodeUuid).distinct.size == picks.size)
      assert(picks.forall(p =>
        !excl.exists(e => snap.nodeByUuid(p.nodeUuid).path.startsWith(e))))
      if (excl.isEmpty) assert(picks.size == math.min(k, nodes.size),
        s"seed=$seed k=$k got=${picks.size}")
    }
  }

  test("property: deletion removes exactly candidates-minus-quota on " +
    "symmetric healthy inputs") {
    for (configReplica <- 1 to 5; perDc <- 2 to 6) {
      val cands = (0 until perDc).flatMap(i =>
        Seq(s"st-dn-even-${i % 3}-${i / 3}", s"st-dn-odd-${i % 3}-${i / 3}"))
      val out = PolicyEngine.chooseReplicasToDelete(snap, cands, configReplica)
      val expected = if (configReplica > 1) math.min(4, configReplica) else configReplica
      val want = math.max(0, cands.distinct.size - expected)
      assert(out.size == want, s"config=$configReplica perDc=$perDc")
      assert(out.map(_.id).distinct.size == out.size)
    }
  }

  test("property: mergeDedup equals the min-round emission model") {
    for (seed <- 1 to 100) {
      val rnd = new Random(seed)
      val inputs = List.fill(rnd.nextInt(5))(
        List.fill(rnd.nextInt(8))(rnd.nextInt(20)).sorted)
      val got = LazyIterators.mergeDedup(inputs.map(_.iterator)).toList
      def model(heads: List[List[Int]]): List[Int] = {
        val live = heads.filter(_.nonEmpty)
        if (live.isEmpty) Nil
        else {
          val m = live.map(_.head).min
          m :: model(live.map(l => if (l.nonEmpty && l.head == m) l.tail else l))
        }
      }
      assert(got == model(inputs), s"seed=$seed inputs=$inputs")
    }
  }

  test("property: as-of join agrees with the in-memory model on random streams") {
    import org.apache.spark.sql.functions.col
    val rng = new Random(77)
    val left = Seq.fill(300)((rng.nextInt(8).toLong, rng.nextInt(1000).toLong))
      .zipWithIndex.map { case ((k, t), i) => (k, i.toLong, t) }
    // unique (k, t) on the right, as the operator contract requires
    val right = Seq.fill(200)((rng.nextInt(8).toLong, rng.nextInt(1000).toLong))
      .distinct.map { case (k, t) => (k, t, k * 100000 + t) }
    val got = graft.operators.AsOfJoin.asOf(
        left.toDF("k", "id", "t"), right.toDF("k", "t", "v"),
        Seq("k"), "t", "t", Seq("v"))
      .collect()
      .map(r => r.getAs[Long]("id") -> Option(r.getAs[Any]("v")).map(_.asInstanceOf[Long]))
      .toMap
    val byKey = right.groupBy(_._1)
    left.foreach { case (k, id, t) =>
      val expect = byKey.getOrElse(k, Nil).filter(_._2 <= t)
        .sortBy(_._2).lastOption.map(_._3)
      assert(got(id) == expect, s"row $id key $k ts $t")
    }
  }

  test("property: budgeted mix equals the independent driver-side model") {
    val rng = new Random(777)
    val words = Vector("the", "and", "of", "to", "cat", "dog", "runs", "fast")
    val docs = (0 until 120).map { i =>
      val n = 3 + rng.nextInt(30)
      val text = Seq.fill(n)(words(rng.nextInt(words.size))).mkString(" ") +
        (if (rng.nextBoolean()) "." else "")
      (i.toLong, text, if (i % 3 == 0) "de" else "en")
    }
    val df = docs.toDF("doc_id", "text", "lang")
    val budget = 150L
    val nBuckets = 8
    val got = graft.pipeline.Sampling.budgetedMix(df, budget, nBuckets)
      .collect().map(_.getLong(0)).toSet
    // independent model: same salted-md5 bucket + quality thresholds,
    // cumulative per lang in bucket order, keep while cum <= budget
    val md = java.security.MessageDigest.getInstance("MD5")
    val stop = Set("the", "and", "of", "to", "a", "in", "is", "that")
    val modeled = docs.map { case (id, text, lang) =>
      val toks = "[a-z0-9]+".r.findAllIn(text.toLowerCase).toVector
      val punct = text.count(".,;:!?".contains(_))
      val ok = toks.size >= 5 && toks.size <= 100000 &&
        toks.count(stop) * 100 >= toks.size * 2 && punct * 10 <= text.length
      val h = graft.pipeline.Dedup.md5Top60(md, s"graft-mix:$id")
      val bucket = (if (ok) 0L else nBuckets.toLong) +
        (h % nBuckets + nBuckets) % nBuckets
      (lang, bucket, id, toks.size.toLong)
    }
    val want = modeled.groupBy(_._1).flatMap { case (_, rows) =>
      var cum = 0L
      rows.groupBy(_._2).toSeq.sortBy(_._1).flatMap { case (_, bucketRows) =>
        cum += bucketRows.map(_._4).sum
        if (cum <= budget) bucketRows.map(_._3) else Nil
      }
    }.toSet
    assert(got == want, s"got=${got.toSeq.sorted} want=${want.toSeq.sorted}")
  }

  test("property: cluster resolution equals union-find on random graphs") {
    val rng = new Random(4242)
    (1 to 5).foreach { trial =>
      val n = 30 + rng.nextInt(40)
      val ids = (0 until n).map(_ => rng.nextInt(1000).toLong).distinct
      val edges = (0 until n).map { _ =>
        (ids(rng.nextInt(ids.size)), ids(rng.nextInt(ids.size)))
      }.filter { case (a, b) => a != b }
      if (edges.nonEmpty) {
        // driver-side union-find ground truth
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          val p = parent.getOrElse(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val want = edges.flatMap(e => Seq(e._1, e._2)).distinct
          .map(v => v -> find(v)).toMap
        val got = graft.pipeline.Dedup.resolveClusters(
            edges.toDF("doc_a", "doc_b"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == want, s"trial $trial: $edges")
      }
    }
  }

  test("property: simhash banded pairs equal brute-force hamming<=3 pairs") {
    val rng = new Random(99)
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    // clusters of near-identical documents -> some pairs within hamming 3
    val docs = (0 until 40).map { i =>
      val base = Seq.fill(30)(words(rng.nextInt(words.size)))
      val mutated = if (i % 2 == 1) base.updated(0, words(rng.nextInt(words.size))) else base
      (i.toLong, mutated.mkString(" "), "en")
    }.toDF("doc_id", "text", "lang")
    val banded = graft.pipeline.Dedup.simhashPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sims = graft.pipeline.Dedup.simhash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = (for {
      a <- sims.keys; b <- sims.keys if a < b
      if java.lang.Long.bitCount(sims(a) ^ sims(b)) <= 3
    } yield (a, b)).toSet
    assert(banded == brute)
  }

  test("funnel agrees with an independent model on random event streams") {
    val rnd = new Random(20260813L)
    val steps = Seq("a", "b", "c")
    val events = (0 until 1500).map { _ =>
      (rnd.nextInt(40).toLong, steps(rnd.nextInt(3)), rnd.nextInt(1000).toLong)
    }
    val window = 300L
    // independent model: earliest completion with strict ordering + window
    def model(evs: Seq[(Long, String, Long)]): Map[Long, (Option[Long], Option[Long], Option[Long])] =
      evs.groupBy(_._1).flatMap { case (u, es) =>
        val byStep = es.groupBy(_._2).view.mapValues(_.map(_._3)).toMap
        byStep.get("a").map(_.min).map { t1 =>
          val lim = t1 + window
          val t2 = byStep.getOrElse("b", Nil).filter(t => t > t1 && t <= lim)
            .sorted.headOption
          val t3 = t2.flatMap(p => byStep.getOrElse("c", Nil)
            .filter(t => t > p && t <= lim).sorted.headOption)
          u -> ((Some(t1): Option[Long], t2, t3))
        }
      }
    val got = graft.operators.Funnel.earliestCompletion(
        events.toDF("u", "event_type", "ts"), "u", "ts", "event_type",
        steps, Some(window))
      .collect()
      .map(r => r.getAs[Long]("u") -> ((Option(r.getAs[Any]("t1")).map(_.asInstanceOf[Long]),
        Option(r.getAs[Any]("t2")).map(_.asInstanceOf[Long]),
        Option(r.getAs[Any]("t3")).map(_.asInstanceOf[Long]))))
      .toMap
    assert(got == model(events))
  }

  test("scd2 agrees with an independent model on random change logs") {
    val rnd = new Random(997L)
    val changes = (0 until 800).map { i =>
      (rnd.nextInt(25).toLong, i.toLong, rnd.nextInt(200).toLong,
        s"s${rnd.nextInt(4)}")
    }
    // independent model: order by (version, id), drop no-ops, chain leads
    def model(rows: Seq[(Long, Long, Long, String)]) =
      rows.groupBy(_._1).flatMap { case (k, rs) =>
        val ordered = rs.sortBy(r => (r._3, r._2))
        val kept = ordered.foldLeft(List.empty[(Long, Long, Long, String)]) {
          (acc, r) => if (acc.headOption.exists(_._4 == r._4)) acc else r :: acc
        }.reverse
        kept.indices.map { i =>
          val r = kept(i)
          val vt = if (i + 1 < kept.size) Some(kept(i + 1)._3) else None
          (k, r._4, r._3, vt)
        }
      }.toSet
    val got = graft.operators.Scd2.history(
        changes.toDF("k", "id", "v", "state"),
        Seq("k"), "v", Seq("id"), Seq("state"))
      .collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("state"),
        r.getAs[Long]("valid_from"),
        Option(r.getAs[Any]("valid_to")).map(_.asInstanceOf[Long])))
      .toSet
    assert(got == model(changes))
  }
}
