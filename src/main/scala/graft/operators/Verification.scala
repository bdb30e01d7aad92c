package graft.operators

import java.util.Locale

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.GraftConf

/** P10–P12: placement verification over the replica fact table.
  *
  * Re-expresses the reference's `verifyBlockPlacementBalancedOptimal`
  * (`CrossAZBlockPlacementPolicy.java:385-516`) as one walk per block, the
  * shape the reference has: the topology is annotated once into a small
  * broadcast table, the located replica rows and the `blocks` rows cross
  * ONE pinned `repartition(block_id)` exchange together, and a per-block
  * function rolls that block's replicas up host -> rack -> dc -> root in
  * memory and judges it. No aggregation chain, no join back to `blocks`:
  * at fleet scale the plan's cost is the one narrow shuffle of the fact
  * rows.
  *
  * Semantics (ref `:400-515`):
  *
  *  - per parent with `leaf` replicas below it placed into `groups` distinct
  *    children out of `available`: optimal iff
  *    `leaf <= available ? groups == leaf : groups == available`
  *    (spread check, ref `:455-481`) AND `max - min <= 1` (balance, `:481`);
  *    `available` is the topology rows in a rack (`getDatanodesInRack`,
  *    `:449-450`), the distinct racks in a dc, the distinct dcs at the root;
  *  - a block whose root total < require_replica fails with "not_enough"
  *    (ref `:417-434`) — checked before optimality, and an *empty* replica
  *    set is always unsatisfied (the reference's `.orElse(false)`);
  *  - `reason_code` is a compact code (`not_enough` / `not_optimal`);
  *    `reason` is the reference's full formatted message
  *    ("not enough storage nodes:[(ip),...], require:N", ref `:423-433`;
  *    "placement not optimal, datanodes:[(ip),...], require replica:N",
  *    ref `:500-510`), built only for a violation — the analog of the
  *    reference's lazy `Supplier` messages (`:33-62`). Node lists are
  *    sorted in UTF-8 byte order for cross-run determinism (the reference
  *    prints replica-array order, which is not stable); a null ip is
  *    counted but not listed; numbers format in `Locale.US`;
  *  - a node without a uuid, dc or rack has no place in the hierarchy:
  *    replicas on it (and replicas with a null `block_id`) are not counted.
  */
object Verification {

  /** One topology node as the walk sees it: dense dc/rack/host ids, the
    * ip its messages print, and the group sizes its ancestors are judged
    * against. */
  final case class TopoNode(datanode_uuid: String, ip: String, dc: String, rack: String,
                            dc_id: Int, rack_id: Int, host_id: Int,
                            hosts_in_rack: Int, racks_in_dc: Int, n_dcs: Int)

  /** A located replica as it crosses the verify exchange. */
  final case class Placed(dc_id: Int, rack_id: Int, host_id: Int, hosts_in_rack: Int,
                          racks_in_dc: Int, n_dcs: Int, ip: String)

  /** A row of the verify exchange: a `blocks` row (`replica` empty) or a
    * located replica (`require_replica` empty). */
  final case class VerifyIn(block_id: Option[Long], require_replica: Option[Long],
                            replica: Option[Placed])

  /** One verdict per `blocks` row. */
  final case class Verdict(block_id: Option[Long], satisfied: Boolean,
                           reason_code: String, reason: String)

  /** Replicas below one parent: `groups` occupied children holding `leaf`
    * replicas, at most `maxPlaced` and at least `minPlaced` per child. */
  private final case class Level(groups: Int, leaf: Int, maxPlaced: Int, minPlaced: Int) {
    /** The spread and balance rule against `available` children. */
    def optimal(available: Int): Boolean =
      (if (leaf <= available) groups == leaf else groups == available) &&
        maxPlaced - minPlaced <= 1
  }

  /** One block's replicas rolled up: per (dc, rack) over its hosts, per dc
    * over its racks, and at the root over dcs. */
  private final case class Rollup[D, R](racks: Seq[((D, R), Level)],
                                        dcs: Seq[(D, Level)], root: Level)

  private def level(counts: Iterable[Int]): Level =
    Level(counts.size, counts.sum, counts.max, counts.min)

  /** The per-block walk: `placed` holds one (dc, rack, host) key per
    * replica (non-empty; a host holding two replicas appears twice). */
  private def rollup[D, R, H](placed: Seq[(D, R, H)]): Rollup[D, R] = {
    val racks = placed.groupBy(p => (p._1, p._2)).toSeq.map { case (key, ps) =>
      key -> level(ps.groupBy(_._3).values.map(_.size))
    }
    val dcs = racks.groupBy(_._1._1).toSeq.map { case (dc, rs) =>
      dc -> level(rs.map(_._2.leaf))
    }
    Rollup(racks, dcs, level(dcs.map(_._2.leaf)))
  }

  /** The topology as one broadcastable table of [[TopoNode]]s. The ip is
    * the `ip` column or, when the topology has none, the path leaf — in
    * HDFS `NodeBase` paths (`/dc/rack/<host>`) the leaf IS the node's
    * network identity. The group sizes are counted over the whole table in
    * one task: a topology is fleet-sized (a dimension), not data-sized. */
  private def annotated(topology: DataFrame): DataFrame = {
    val spark = topology.sparkSession
    import spark.implicits._
    val ip =
      if (topology.columns.contains("ip")) col("ip")
      else element_at(split(col("path"), "/"), -1)
    topology
      .select(Seq(col("datanode_uuid"), ip, col("dc"), col("rack")).map(_.cast("string")): _*)
      .as[(String, String, String, String)]
      .coalesce(1)
      .mapPartitions { rows =>
        val all = rows.toVector
        val inRack = all.filter(n => n._3 != null && n._4 != null)
        val hostsInRack = inRack.groupBy(n => (n._3, n._4)).view.mapValues(_.size).toMap
        val racksInDc = inRack.groupBy(_._3).view.mapValues(_.map(_._4).distinct.size).toMap
        val nDcs = all.flatMap(n => Option(n._3)).distinct.size
        val dcIds = inRack.map(_._3).distinct.zipWithIndex.toMap
        val rackIds = inRack.map(n => (n._3, n._4)).distinct.zipWithIndex.toMap
        val hostIds = inRack.map(n => (n._3, n._4, n._1)).distinct.zipWithIndex.toMap
        inRack.iterator.filter(_._1 != null).map { case (uuid, nodeIp, dc, rack) =>
          TopoNode(uuid, nodeIp, dc, rack, dcIds(dc), rackIds((dc, rack)),
            hostIds((dc, rack, uuid)), hostsInRack((dc, rack)), racksInDc(dc), nDcs)
        }
      }
      .toDF()
  }

  /** Replica rows joined to the broadcast annotated topology. */
  private def located(replicas: DataFrame, topology: DataFrame): DataFrame =
    replicas.where(col("block_id").isNotNull)
      .join(broadcast(annotated(topology)), "datanode_uuid")

  /** `repartition(spark.sql.shuffle.partitions, block_id)` then sorted by
    * `block_id`, so each block's rows arrive together. REPARTITION_BY_NUM
    * is exempt from AQE coalescing: the CPU-bound per-block walk keeps the
    * CONFIGURED width (cluster-tuned at scale) instead of a width sized by
    * the compact shuffled bytes. */
  private def pinnedByBlock(df: DataFrame): DataFrame =
    // resolved conf accessor, not raw-string .toInt: some runtimes set the
    // raw conf to a non-numeric value (e.g. "auto") that the session
    // resolves to a number
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions, col("block_id"))
      .sortWithinPartitions("block_id")

  /** Consecutive elements with equal keys: `it` must be clustered by key. */
  private def runs[K, T](it: Iterator[T])(key: T => K): Iterator[(K, Vector[T])] = {
    val in = it.buffered
    Iterator.continually(in).takeWhile(_.hasNext).map { b =>
      val k = key(b.head)
      val run = Vector.newBuilder[T]
      while (b.hasNext && key(b.head) == k) run += b.next()
      (k, run.result())
    }
  }

  /** Hierarchy statistics per (block, parent): number of occupied child
    * groups, total replicas underneath, and per-child max/min — the path-
    * keyed shape the reference exposes (parents "", "/dc", "/dc/rack").
    * One `repartition(block_id)` exchange, then the same per-block
    * [[rollup]] that [[verifyBalancedOptimal]] judges, emitting all three
    * levels. */
  def hierarchyStats(replicas: DataFrame, topology: DataFrame): DataFrame = {
    val spark = replicas.sparkSession
    import spark.implicits._
    pinnedByBlock(located(replicas, topology)
        .select(col("block_id").cast("long"), col("dc"), col("rack"), col("host_id")))
      .as[(Long, String, String, Int)]
      .mapPartitions(runs(_)(_._1).flatMap { case (blockId, rows) =>
        val r = rollup(rows.map(p => (p._2, p._3, p._4)))
        def row(parent: String, l: Level) = (blockId, parent, l.groups.toLong,
          l.leaf.toLong, l.maxPlaced.toLong, l.minPlaced.toLong)
        row("", r.root) +: (r.dcs.map { case (dc, l) => row(s"/$dc", l) } ++
          r.racks.map { case ((dc, rack), l) => row(s"/$dc/$rack", l) })
      })
      .toDF("block_id", "parent", "groups", "leaf", "max_placed", "min_placed")
  }

  /** Judges one block: the `blocks` rows among `rows` each get a verdict,
    * from the rollup of the replica rows beside them. */
  private def judge(blockId: Option[Long], rows: Vector[VerifyIn]): Vector[Verdict] = {
    val placed = rows.flatMap(_.replica)
    lazy val optimal = {
      // each key carries its group size, which its id determines
      val r = rollup(placed.map(p =>
        ((p.dc_id, p.racks_in_dc), (p.rack_id, p.hosts_in_rack), p.host_id)))
      r.root.optimal(placed.head.n_dcs) &&
        r.dcs.forall { case ((_, available), l) => l.optimal(available) } &&
        r.racks.forall { case ((_, (_, available)), l) => l.optimal(available) }
    }
    lazy val nodes = placed.flatMap(p => Option(p.ip))
      .sortBy(UTF8String.fromString).map(ip => s"($ip)").mkString(",")
    def message(fmt: String, require: Option[Long]): String =
      String.format(Locale.US, fmt, nodes, require.map(Long.box).orNull)
    rows.filter(_.replica.isEmpty).map { b =>
      val require = b.require_replica
      if (placed.isEmpty || require.exists(placed.size < _))
        Verdict(blockId, satisfied = false, "not_enough",
          message("not enough storage nodes:[%s], require:%d", require))
      else if (!optimal)
        Verdict(blockId, satisfied = false, "not_optimal",
          message("placement not optimal, datanodes:[%s], require replica:%d", require))
      else Verdict(blockId, satisfied = true, null, null)
    }
  }

  /** Full balanced-optimal verification: one row per `blocks` row
    * (block_id, require_replica) with (satisfied, reason_code, reason).
    *
    * The located replica rows and the `blocks` rows, unioned, cross the one
    * `repartition(block_id)` exchange as narrow rows (ids, group sizes and
    * the ip); each block is then judged once by [[judge]]. A `blocks` row
    * that appears twice gets two verdicts, replicas of a block missing from
    * `blocks` get none, and a null `block_id` gets "not_enough" with an
    * empty node list. */
  def verifyBalancedOptimal(replicas: DataFrame, topology: DataFrame,
                            blocks: DataFrame): DataFrame = {
    val spark = replicas.sparkSession
    import spark.implicits._
    val placedType = Encoders.product[Placed].schema
    val replicaRows = located(replicas, topology)
      .select(col("block_id").cast("long"), lit(null).cast("long").as("require_replica"),
        struct(placedType.fieldNames.map(col): _*).as("replica"))
    val blockRows = blocks
      .select(col("block_id").cast("long"), col("require_replica").cast("long"),
        lit(null).cast(placedType).as("replica"))
    pinnedByBlock(replicaRows.unionByName(blockRows))
      .as[VerifyIn]
      .mapPartitions(runs(_)(_.block_id).flatMap((judge _).tupled))
      .toDF()
  }

  /** P11 fast verification (ref `:373-383`): replica count >= required. */
  def verifyFast(replicas: DataFrame, blocks: DataFrame): DataFrame = {
    val counts = replicas.groupBy("block_id").agg(count(lit(1)).as("observed"))
    blocks.join(counts, Seq("block_id"), "left")
      .select(col("block_id"),
        coalesce(col("observed"), lit(0L)).as("observed"),
        col("require_replica"),
        (coalesce(col("observed"), lit(0L)) >= col("require_replica")).as("satisfied"))
  }

  /** P10 dispatcher (ref `:282-292`): `do-placement-only` short-circuits to
    * all-OK, `fast-verify` routes to the count check, else full analysis.
    * Flags come live from `spark.conf` (GraftConf). */
  def verifyPlacements(spark: SparkSession, replicas: DataFrame,
                       topology: DataFrame, blocks: DataFrame): DataFrame = {
    val conf = GraftConf.fromSession(spark)
    if (conf.doPlacementOnly)
      blocks.select(col("block_id"), lit(true).as("satisfied"),
        lit(null).cast("string").as("reason_code"),
        lit(null).cast("string").as("reason"))
    else if (conf.fastVerify)
      verifyFast(replicas, blocks)
        .select(col("block_id"), col("satisfied"),
          when(!col("satisfied"), "not_enough")
            .otherwise(lit(null).cast("string")).as("reason_code"),
          when(!col("satisfied"), format_string(
              "expect replica:%d, but got:%d",
              col("require_replica"), col("observed")))
            .otherwise(lit(null).cast("string")).as("reason"))
    else
      verifyBalancedOptimal(replicas, topology, blocks)
  }
}
