package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Verification
import graft.sources.MetaFixtures

/** P10–P12 truth table transcribed from the reference's hand-drawn topology
  * cases (`TestCrossAZBlockPlacementPolicy.java:111-218`), evaluated over
  * the same 254-node fixture structure. */
class VerificationSpec extends AnyFunSuite {
  /** Walks executed plans through adaptive query stages. */
  private object PlanNodes extends AdaptiveSparkPlanHelper

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val topo = MetaFixtures.topology(spark).cache()

  /** Node ids within (dc, rack), mirroring the reference's selectSubset. */
  private def subset(dc: String, rack: Int): Seq[Long] =
    (1 to MetaFixtures.NumNodes).filter { i =>
      (if (i % 2 == 0) "even" else "odd") == dc && i % 10 == rack
    }.map(_.toLong)

  private def verifyRow(require: Int, nodeIds: Seq[Long]): org.apache.spark.sql.Row = {
    val replicas = nodeIds.zipWithIndex
      .map { case (n, i) => (0L, i, s"dn-$n") }
      .toDF("block_id", "replica_index", "datanode_uuid")
    val blocks = Seq((0L, require)).toDF("block_id", "require_replica")
    Verification.verifyBalancedOptimal(replicas, topo, blocks).head()
  }

  private def verify(require: Int, nodeIds: Seq[Long]): (Boolean, String) = {
    val row = verifyRow(require, nodeIds)
    (row.getAs[Boolean]("satisfied"),
      Option(row.getAs[String]("reason_code")).getOrElse(""))
  }

  private def evenRack(r: Int) = subset("even", r)
  private def oddRack(r: Int) = subset("odd", r)

  test("under replication: single node, require 3") {
    val (ok, reason) = verify(3, Seq(1L))
    assert(!ok && reason == "not_enough")
  }

  test("null/empty replica set is never satisfied") {
    val (ok, reason) = verify(3, Nil)
    assert(!ok && reason == "not_enough")
  }

  test("same datanode three times, require 3") {
    val n = oddRack(1).head
    val (ok, reason) = verify(3, Seq(n, n, n))
    assert(!ok && reason == "not_optimal")
  }

  test("single datacenter across three racks, require 3") {
    val (ok, reason) = verify(3,
      Seq(evenRack(2).head, evenRack(4).head, evenRack(6).head))
    assert(!ok && reason == "not_optimal")
  }

  test("multi datacenter 2+1, require 3 is optimal") {
    val (ok, _) = verify(3,
      Seq(evenRack(2).head, evenRack(4).head, oddRack(1).head))
    assert(ok)
  }

  test("3 replicas but require 5 fails on count") {
    val (ok, reason) = verify(5,
      Seq(evenRack(2).head, evenRack(4).head, oddRack(1).head))
    assert(!ok && reason == "not_enough")
  }

  test("fully distributed 3+2 over 5 racks, require 5") {
    val (ok, _) = verify(5, Seq(evenRack(2).head, evenRack(4).head,
      evenRack(6).head, oddRack(1).head, oddRack(3).head))
    assert(ok)
  }

  test("doubled rack breaks rack-level spread, require 5") {
    val e4 = evenRack(4)
    val (ok, reason) = verify(5, Seq(evenRack(2).head, e4(0), e4(1),
      oddRack(1).head, oddRack(3).head))
    assert(!ok && reason == "not_optimal")
  }

  test("single-dc unbalanced racks, require 5") {
    val e2 = evenRack(2); val e4 = evenRack(4)
    val (ok, reason) = verify(5, Seq(e2(0), e2(1), e4(0), e4(1), e4(3)))
    assert(!ok && reason == "not_optimal")
  }

  test("over replication 2+2 with require 3 is satisfied") {
    val (ok, _) = verify(3, Seq(evenRack(2).head, evenRack(4).head,
      oddRack(1).head, oddRack(3).head))
    assert(ok)
  }

  test("P17: formatted violation messages match the reference shape") {
    // dn-1 lives at ip 10.202.77.1 (fixture arithmetic)
    val notEnough = verifyRow(3, Seq(1L))
    assert(notEnough.getAs[String]("reason") ==
      "not enough storage nodes:[(10.202.77.1)], require:3")
    // same node 3x -> count OK, spread violated; list has one entry per replica
    val n = oddRack(1).head
    val notOptimal = verifyRow(3, Seq(n, n, n))
    val ip = s"10.202.77.$n"
    assert(notOptimal.getAs[String]("reason") ==
      s"placement not optimal, datanodes:[($ip),($ip),($ip)], require replica:3")
    // empty replica set renders an empty node list
    assert(verifyRow(2, Nil).getAs[String]("reason") ==
      "not enough storage nodes:[], require:2")
    // satisfied placements carry no message (lazy-Supplier analog)
    assert(verifyRow(3,
      Seq(evenRack(2).head, evenRack(4).head, oddRack(1).head))
      .getAs[String]("reason") == null)
  }

  /** Verdicts keyed by block id (null ids kept) as (satisfied, code, reason). */
  private def verdicts(replicas: DataFrame, topology: DataFrame,
                       blocks: DataFrame): Seq[(Option[Long], Boolean, String, String)] =
    Verification.verifyBalancedOptimal(replicas, topology, blocks).collect().toSeq
      .map(r => (Option(r.getAs[Any]("block_id")).map(_.asInstanceOf[Long]),
        r.getAs[Boolean]("satisfied"), r.getAs[String]("reason_code"),
        r.getAs[String]("reason")))
      .sortBy(v => (v._1.getOrElse(Long.MinValue), v._4))

  private def replicaDf(rows: (Long, String)*): DataFrame =
    rows.zipWithIndex.map { case ((b, dn), i) => (b, i, dn) }
      .toDF("block_id", "replica_index", "datanode_uuid")

  private val ip1 = "10.202.77.1"

  test("a block with no replicas is not_enough with an empty node list, " +
      "next to a block that has some") {
    val got = verdicts(replicaDf(0L -> "dn-1"), topo,
      Seq((0L, 1), (5L, 3)).toDF("block_id", "require_replica"))
    assert(got == Seq(
      (Some(0L), true, null, null),
      (Some(5L), false, "not_enough", "not enough storage nodes:[], require:3")))
  }

  test("replicas of a block missing from blocks yield no verdict") {
    val got = verdicts(replicaDf(0L -> "dn-1", 9L -> "dn-2", 9L -> "dn-3"), topo,
      Seq((0L, 2)).toDF("block_id", "require_replica"))
    assert(got == Seq((Some(0L), false, "not_enough",
      s"not enough storage nodes:[($ip1)], require:2")))
  }

  test("a blocks row that appears twice gets two identical verdicts") {
    val got = verdicts(replicaDf(4L -> "dn-1", 4L -> "dn-1"), topo,
      Seq((4L, 2), (4L, 2)).toDF("block_id", "require_replica"))
    val v = (Some(4L), false, "not_optimal",
      s"placement not optimal, datanodes:[($ip1),($ip1)], require replica:2")
    assert(got == Seq(v, v))
  }

  test("two replicas on one host count twice and break rack spread") {
    // dn-2 is in even/2, dn-1 in odd/1: the root level is balanced, but
    // rack even/2 holds 2 replicas on 1 of its hosts
    val got = verdicts(replicaDf(1L -> "dn-2", 1L -> "dn-2", 1L -> "dn-1"), topo,
      Seq((1L, 3)).toDF("block_id", "require_replica"))
    assert(got == Seq((Some(1L), false, "not_optimal",
      "placement not optimal, datanodes:[(10.202.77.1),(10.202.77.2)," +
        "(10.202.77.2)], require replica:3")))
  }

  /** 2 dcs x 2 racks x 2 hosts with explicit ips, one of them null. */
  private lazy val smallTopo = Seq(
      ("h1", "/a/r1/n1", "a", "r1", null),
      ("h2", "/a/r1/n2", "a", "r1", "10.0.0.2"),
      ("h3", "/a/r2/n3", "a", "r2", "Ａ"),
      ("h4", "/a/r2/n4", "a", "r2", "😀"),
      ("h5", "/b/r3/n5", "b", "r3", "10.0.0.5"),
      ("h6", "/b/r3/n6", "b", "r3", "10.0.0.6"),
      ("h7", "/b/r4/n7", "b", "r4", "10.0.0.7"),
      ("h8", "/b/r4/n8", "b", "r4", "10.0.0.8"))
    .toDF("datanode_uuid", "path", "dc", "rack", "ip")

  test("a null ip is counted but left out of the node list") {
    // h1 + h2 fill rack a/r1 but leave rack a/r2 empty: dc a is unspread.
    // The root total 2 meets require 2, so h1's replica was counted.
    val got = verdicts(replicaDf(0L -> "h1", 0L -> "h2"), smallTopo,
      Seq((0L, 2)).toDF("block_id", "require_replica"))
    assert(got == Seq((Some(0L), false, "not_optimal",
      "placement not optimal, datanodes:[(10.0.0.2)], require replica:2")))
  }

  test("node lists sort ips in UTF-8 byte order") {
    // U+FF21 (UTF-8 EF BC A1) sorts before U+1F600 (F0 9F 98 80) by bytes,
    // after it by UTF-16 code units (FF21 vs D83D)
    val got = verdicts(replicaDf(0L -> "h4", 0L -> "h3"), smallTopo,
      Seq((0L, 3)).toDF("block_id", "require_replica"))
    assert(got == Seq((Some(0L), false, "not_enough",
      "not enough storage nodes:[(Ａ),(😀)], require:3")))
  }

  test("without an ip column the path leaf names the node") {
    val noIp = smallTopo.drop("ip")
    val got = verdicts(replicaDf(0L -> "h1", 0L -> "h5", 0L -> "h5"), noIp,
      Seq((0L, 3)).toDF("block_id", "require_replica"))
    assert(got == Seq((Some(0L), false, "not_optimal",
      "placement not optimal, datanodes:[(n1),(n5),(n5)], require replica:3")))
  }

  test("a blocks row with a null block_id is not_enough with an empty list") {
    // replicas with a null block_id never attach to it
    val replicas = Seq((Some(0L), 0, "dn-1"), (None, 1, "dn-2"))
      .toDF("block_id", "replica_index", "datanode_uuid")
    val blocks = Seq((Some(0L), 1), (None, 2)).toDF("block_id", "require_replica")
    assert(verdicts(replicas, topo, blocks) == Seq(
      (None, false, "not_enough", "not enough storage nodes:[], require:2"),
      (Some(0L), true, null, null)))
  }

  test("messages format numbers in Locale.US whatever the default locale") {
    val saved = java.util.Locale.getDefault
    // Devanagari digits: "%d" of 3 reads "३" under this locale
    java.util.Locale.setDefault(java.util.Locale.forLanguageTag("hi-IN-u-nu-deva"))
    try assert(verifyRow(3, Seq(1L)).getAs[String]("reason") ==
      s"not enough storage nodes:[($ip1)], require:3")
    finally java.util.Locale.setDefault(saved)
  }

  test("plan: one shuffle exchange, no sort-merge or nested-loop join") {
    val df = Verification.verifyBalancedOptimal(
      MetaFixtures.replicas(spark).where($"block_id" < 5000), topo,
      MetaFixtures.blocks(spark).where($"block_id" < 5000))
    assert(df.collect().length == 5000)
    val plan = df.queryExecution.executedPlan
    val ops = PlanNodes.collect(plan) { case p => p }
    assert(ops.count(_.isInstanceOf[ShuffleExchangeLike]) == 1, plan)
    assert(!ops.exists(_.isInstanceOf[SortMergeJoinExec]), plan)
    assert(!ops.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]), plan)
  }

  test("fast verify is a pure count check") {
    val replicas = Seq((1L, 0, "dn-1"), (1L, 1, "dn-1"), (2L, 0, "dn-3"))
      .toDF("block_id", "replica_index", "datanode_uuid")
    val blocks = Seq((1L, 2), (2L, 2), (3L, 1)).toDF("block_id", "require_replica")
    val res = Verification.verifyFast(replicas, blocks)
      .collect().map(r => r.getLong(0) -> r.getAs[Boolean]("satisfied")).toMap
    assert(res(1L) && !res(2L) && !res(3L))
  }

  test("dispatcher honors do-placement-only and fast-verify toggles") {
    val replicas = Seq((1L, 0, "dn-1")).toDF("block_id", "replica_index", "datanode_uuid")
    val blocks = Seq((1L, 3)).toDF("block_id", "require_replica")
    def run(): Boolean =
      Verification.verifyPlacements(spark, replicas, topo, blocks)
        .head().getAs[Boolean]("satisfied")
    spark.conf.set(GraftConf.DoPlacementOnlyKey, "true")
    assert(run()) // short-circuit: everything OK
    spark.conf.set(GraftConf.DoPlacementOnlyKey, "false")
    spark.conf.set(GraftConf.FastVerifyKey, "true")
    assert(!run()) // fast: 1 < 3
    spark.conf.set(GraftConf.FastVerifyKey, "false")
    assert(!run()) // full: under-replicated
    spark.conf.unset(GraftConf.DoPlacementOnlyKey)
    spark.conf.unset(GraftConf.FastVerifyKey)
  }
}
