package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators. Every generated value is a pure function of
  * (seed, stream, id), so executors regenerate exactly what the driver
  * generated and output checks can recompute an item's expected facts
  * where the item is processed. The fleet's health mix and full storages,
  * and the corpus roles are fixed counts placed by a seeded permutation, so seeds vary which item gets a property but
  * not how many do; request and block shapes are per-item draws. Each
  * generator self-checks the properties it claims and fails set-up when
  * one does not hold. */
object Gen {

  def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, stream: Long, id: Long): SplittableRandom =
    new SplittableRandom(mix64(mix64(seed * 1000003L + stream) + id))

  /** Seeded permutation of 0 until n (Fisher-Yates). */
  def permutation(seed: Long, stream: Long, n: Int): Array[Int] = {
    val r = rng(seed, stream, 0)
    val a = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  def check(cond: Boolean, what: => String): Unit =
    if (!cond) throw new IllegalStateException(s"generator self-check failed: $what")

  // ================================================================ fleet

  final case class Node(idx: Int, uuid: String, ip: String, dc: String, rack: String,
                        path: String, registered: Boolean, decomInProgress: Boolean,
                        decommissioned: Boolean, disallowed: Boolean,
                        lastHeartbeatMs: Long, xceivers: Int) {
    def healthy: Boolean =
      registered && !decomInProgress && !decommissioned && !disallowed &&
        AsOfMs - lastHeartbeatMs <= StaleMs
  }

  final case class Storage(id: String, nodeUuid: String, state: String,
                           tpe: String, capacity: Long, remaining: Long)

  final case class Fleet(nodes: Array[Node], storages: Array[Storage], azs: Int,
                         racksPerAz: Int) {
    val nodeByUuid: Map[String, Node] = nodes.map(n => n.uuid -> n).toMap
    val storageById: Map[String, Storage] = storages.map(s => s.id -> s).toMap
    /** Node indices per rack, racks numbered az * racksPerAz + rack. */
    lazy val rackMembers: Array[Array[Int]] = Array.tabulate(azs * racksPerAz) { k =>
      nodes.filter(n => n.dc == s"az${k / racksPerAz}" && n.rack == s"rack${k % racksPerAz}").map(_.idx)
    }
  }

  val AsOfMs = 1700000000000L
  val StaleMs = 30000L
  val BlockSize = 134217728L  // 128 MiB
  val GiB = 1073741824L
  val StoragesPerNode = 12
  /** Storage slot -> (state, type): 7 NORMAL/DISK, 2 NORMAL/SSD,
    * 1 NORMAL/ARCHIVE, 1 READ_ONLY_SHARED/DISK, 1 FAILED/DISK. */
  val Slots: Array[(String, String)] =
    Array.fill(7)(("NORMAL", "DISK")) ++ Array.fill(2)(("NORMAL", "SSD")) ++
      Array(("NORMAL", "ARCHIVE"), ("READ_ONLY_SHARED", "DISK"), ("FAILED", "DISK"))
  /** Unhealthy shares, in placement order over a seeded node permutation:
    * unregistered, decommissioning, decommissioned, disallowed, stale. */
  val UnhealthyPerMille = Seq(10, 20, 10, 10, 50)
  /** Share of NORMAL/DISK storages too full for one block. */
  val FullPerMille = 100

  def fleet(seed: Long, nNodes: Int, azs: Int, racksPerAz: Int): Fleet = {
    val nRacks = azs * racksPerAz
    val rackOf = permutation(seed, 1, nNodes).map(_ % nRacks)
    val byHealth = permutation(seed, 2, nNodes)
    val cuts = UnhealthyPerMille.scanLeft(0)(_ + _).map(_ * nNodes / 1000)
    def inBand(i: Int, band: Int): Boolean = {
      val p = byHealth(i)
      p >= cuts(band) && p < cuts(band + 1)
    }
    val nodes = Array.tabulate(nNodes) { i =>
      val r = rng(seed, 3, i)
      val rk = rackOf(i)
      val dc = s"az${rk / racksPerAz}"
      val rack = s"rack${rk % racksPerAz}"
      val ip = s"10.${i >> 16}.${(i >> 8) & 255}.${i & 255}"
      val heartbeatAge = if (inBand(i, 4)) StaleMs + 1000 + r.nextInt(60000) else r.nextInt(25000)
      Node(i, s"dn-$i", ip, dc, rack, s"/$dc/$rack/$ip",
        registered = !inBand(i, 0), decomInProgress = inBand(i, 1),
        decommissioned = inBand(i, 2), disallowed = inBand(i, 3),
        lastHeartbeatMs = AsOfMs - heartbeatAge, xceivers = r.nextInt(40))
    }
    val normalDisk = for (i <- 0 until nNodes; s <- 0 until 7) yield i * StoragesPerNode + s
    val full = permutation(seed, 4, normalDisk.size)
      .take(normalDisk.size * FullPerMille / 1000).map(normalDisk).toSet
    val storages = Array.tabulate(nNodes * StoragesPerNode) { k =>
      val i = k / StoragesPerNode
      val s = k % StoragesPerNode
      val r = rng(seed, 5, k)
      val (state, tpe) = Slots(s)
      val capacity = (1L + r.nextInt(2048)) * GiB
      val remaining =
        if (full.contains(k)) BlockSize / 2 else BlockSize + r.nextLong(capacity - BlockSize + 1)
      Storage(s"st-$i-$s", s"dn-$i", state, tpe, capacity, remaining)
    }
    val f = Fleet(nodes, storages, azs, racksPerAz)
    val unhealthy = nodes.count(!_.healthy)
    check(unhealthy == cuts.last, s"unhealthy nodes $unhealthy != ${cuts.last}")
    val racks = nodes.groupBy(n => (n.dc, n.rack)).map(_._2.length)
    check(racks.size == nRacks && racks.max - racks.min <= 1, s"rack sizes $racks")
    check(storages.count(s => s.remaining < BlockSize) == full.size, "full-storage share")
    f
  }

  // ============================================================ requests

  final case class Request(id: Long, additional: Int, writer: Option[String],
                           excludes: Seq[String])

  def request(seed: Long, f: Fleet, id: Long): Request = {
    val r = rng(seed, 10, id)
    val u = r.nextInt(100)
    val additional = if (u < 20) 1 else if (u < 50) 2 else 3
    val writer = if (r.nextInt(3) == 0) Some(f.nodes(r.nextInt(f.nodes.length)).uuid) else None
    val e = r.nextInt(100)
    val excludes =
      if (e < 14) Seq(s"/az${r.nextInt(f.azs)}")
      else if (e < 19) Seq(s"/az${r.nextInt(f.azs)}/rack${r.nextInt(f.racksPerAz)}")
      else Nil
    Request(id, additional, writer, excludes)
  }

  /** Nodes able to take a DISK replica of one block: healthy, with a
    * NORMAL/DISK storage that fits it. */
  def eligibleNodes(f: Fleet): Set[String] = {
    val healthy = f.nodes.filter(_.healthy).map(_.uuid).toSet
    f.storages.filter(s => s.state == "NORMAL" && s.tpe == "DISK" && s.remaining >= BlockSize)
      .map(_.nodeUuid).filter(healthy).toSet
  }

  /** The subtree `PolicyEngine.chooseTarget` selects in: the writer's AZ
    * when it and the excluded AZs name a single AZ, else the root. */
  def selectionRoot(f: Fleet, q: Request): String = {
    val writerAz = q.writer.map(w => "/" + f.nodeByUuid(w).dc).getOrElse("")
    val tops = (Set(writerAz) ++ q.excludes.map(_.split("/")(1)).map("/" + _))
    if (tops.size == 1) tops.head else ""
  }

  /** Eligible nodes the request may land on; the greedy must fill the
    * request whenever this domain is non-empty. */
  def domainSize(f: Fleet, eligible: Set[String], q: Request): Int = {
    val root = selectionRoot(f, q)
    f.nodes.count(n => eligible(n.uuid) && n.path.startsWith(root + "/") &&
      !q.excludes.exists(n.path.startsWith))
  }

  // ============================================================== blocks

  final case class Block(id: Long, require: Int, replicaNodes: Array[Int],
                         replicaSlots: Array[Int]) {
    def storageIds: Array[String] =
      replicaNodes.indices.map(i => s"st-${replicaNodes(i)}-${replicaSlots(i)}").toArray
    def excess: Int = math.max(0, replicaNodes.length - require)
  }

  /** Replication target 1..5 (mostly 3); replicas = target with a 10 %
    * under-replicated and a 20 % over-replicated share. Half the blocks are
    * spread AZ-then-rack round-robin, half land on random nodes; replicas
    * sit on distinct nodes, on NORMAL/DISK or READ_ONLY_SHARED storages. */
  def block(seed: Long, f: Fleet, id: Long): Block = {
    val r = rng(seed, 20, id)
    val u = r.nextInt(100)
    val require = if (u < 5) 1 else if (u < 20) 2 else if (u < 90) 3 else if (u < 95) 4 else 5
    val v = r.nextInt(100)
    val n =
      if (v < 10 && require > 1) require - 1
      else if (v >= 80 && v < 95) require + 1
      else if (v >= 95) require + 2
      else require
    val chosen = mutable.LinkedHashSet.empty[Int]
    if (r.nextBoolean()) {
      val firstAz = r.nextInt(f.azs)
      var k = 0
      while (chosen.size < n) {
        val az = (firstAz + k) % f.azs
        val cand = f.rackMembers(az * f.racksPerAz + r.nextInt(f.racksPerAz))
        chosen += cand(r.nextInt(cand.length))
        k += 1
      }
    } else while (chosen.size < n) chosen += r.nextInt(f.nodes.length)
    val nodes = chosen.toArray
    val slots = nodes.map(_ => if (r.nextInt(20) == 0) 10 else r.nextInt(7))
    Block(id, require, nodes, slots)
  }

  // ============================================================== corpus

  val Stop: Array[String] = Array("the", "and", "of", "to", "a", "in", "is", "that")
  val Langs: Array[String] = Array("en", "en", "en", "de", "fr", "es", "zh")

  /** A 4000-word vocabulary of pronounceable lowercase words; the same for
    * every seed so that text statistics do not move with the seed. */
  lazy val Vocab: Array[String] = {
    val syl = Array("ka", "lo", "mi", "ne", "ru", "sa", "te", "vi", "zo", "pa", "qu",
      "di", "fe", "go", "hu", "ji", "ble", "str", "on", "ex")
    val r = new SplittableRandom(42L)
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < 4000) {
      val k = 1 + r.nextInt(3)
      seen += (0 to k).map(_ => syl(r.nextInt(syl.length))).mkString
    }
    seen.toArray
  }

  /** Zipf(1.0) sampler over the vocabulary. */
  private lazy val ZipfCdf: Array[Double] = {
    val w = Array.tabulate(Vocab.length)(i => 1.0 / (i + 1))
    val s = w.sum
    w.scanLeft(0.0)(_ + _ / s).tail
  }

  def word(r: SplittableRandom): String = {
    val x = r.nextDouble()
    var i = java.util.Arrays.binarySearch(ZipfCdf, x)
    if (i < 0) i = -i - 1
    Vocab(math.min(i, Vocab.length - 1))
  }

  /** Token list of one synthetic document: 20..140 words with ~10 %
    * stopwords; one document in 12 is low quality (no stopwords). */
  def docTokens(r: SplittableRandom): Array[String] = {
    val n = 20 + r.nextInt(121)
    val lowQuality = r.nextInt(12) == 0
    Array.fill(n)(if (!lowQuality && r.nextInt(10) == 0) Stop(r.nextInt(Stop.length)) else word(r))
  }

  def render(toks: Array[String], r: SplittableRandom): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < toks.length) {
      if (i > 0) sb.append(if (r.nextInt(16) == 0) ". " else " ")
      sb.append(toks(i))
      i += 1
    }
    sb.toString
  }

  final case class Doc(doc_id: Long, text: String, lang: String)

  /** Corpus with injected structure. Roles, placed by seeded permutation:
    * `Heldout` (the benchmark slice the corpus is decontaminated against),
    * `ExactDup` (verbatim copy of an original, case/space-perturbed),
    * `NearDup` (copy of an original with 4 % of its tokens replaced),
    * `Contaminated` (original with a 12-token passage of a held-out doc). */
  final case class Corpus(docs: Array[Doc], heldout: Set[Long], exactDupOf: Map[Long, Long],
                          nearDupOf: Map[Long, Long], contaminated: Set[Long])

  val HeldoutPerMille = 20
  val ExactDupPerMille = 50
  val NearDupPerMille = 50
  val ContaminatedPerMille = 20

  def corpus(seed: Long, n: Int): Corpus = {
    val roles = permutation(seed, 30, n)
    val cuts = Seq(HeldoutPerMille, ExactDupPerMille, NearDupPerMille, ContaminatedPerMille)
      .scanLeft(0)(_ + _).map(_ * n / 1000)
    def role(i: Int): Int = cuts.lastIndexWhere(c => roles(i) >= c) match {
      case k if k < 4 => k
      case _ => 4 // original
    }
    val originals = (0 until n).filter(i => role(i) == 4 || role(i) == 0).toArray
    val heldoutIds = (0 until n).filter(i => role(i) == 0).toArray
    val toks = new Array[Array[String]](n)
    val docs = new Array[Doc](n)
    val exact = mutable.Map.empty[Long, Long]
    val near = mutable.Map.empty[Long, Long]
    val contaminated = mutable.Set.empty[Long]
    // originals first, so copies can refer to them
    val order = (0 until n).sortBy(i => if (role(i) == 4 || role(i) == 0) 0 else 1)
    order.foreach { i =>
      val r = rng(seed, 31, i)
      val lang = Langs(r.nextInt(Langs.length))
      role(i) match {
        case 0 | 4 =>
          toks(i) = docTokens(r)
          docs(i) = Doc(i, render(toks(i), r), lang)
        case 1 =>
          val src = pickOriginal(r, originals, role)
          exact(i) = src
          docs(i) = Doc(i, "  " + docs(src).text.toUpperCase + " ", docs(src).lang)
        case 2 =>
          val src = pickOriginal(r, originals, role)
          near(i) = src
          val t = toks(src).clone()
          (0 until math.max(1, t.length / 25)).foreach { _ =>
            val k = r.nextInt(t.length)
            var w = word(r)
            while (w == t(k)) w = word(r)
            t(k) = w
          }
          toks(i) = t
          docs(i) = Doc(i, render(t, r), docs(src).lang)
        case 3 =>
          val t = docTokens(r)
          val h = toks(heldoutIds(r.nextInt(heldoutIds.length)))
          val at = r.nextInt(math.max(1, h.length - 12))
          val passage = h.slice(at, at + 12)
          contaminated += i
          docs(i) = Doc(i, render(t.take(t.length / 2) ++ passage ++ t.drop(t.length / 2), r), lang)
      }
    }
    val c = Corpus(docs, heldoutIds.map(_.toLong).toSet, exact.toMap, near.toMap, contaminated.toSet)
    check(c.heldout.size == cuts(1) && c.exactDupOf.size == cuts(2) - cuts(1) &&
      c.nearDupOf.size == cuts(3) - cuts(2) && c.contaminated.size == cuts(4) - cuts(3),
      "corpus role shares")
    check(c.exactDupOf.forall { case (d, s) => normalized(docs(d.toInt).text) == normalized(docs(s.toInt).text) },
      "exact duplicates normalize to their source")
    check(c.nearDupOf.forall { case (d, s) => docs(d.toInt).text != docs(s.toInt).text } ,
      "near duplicates differ from their source")
    c
  }

  private def pickOriginal(r: SplittableRandom, originals: Array[Int], role: Int => Int): Int = {
    var s = originals(r.nextInt(originals.length))
    while (role(s) != 4) s = originals(r.nextInt(originals.length))
    s
  }

  private def normalized(s: String): String = s.toLowerCase.trim.replaceAll("\\s+", " ")
}
