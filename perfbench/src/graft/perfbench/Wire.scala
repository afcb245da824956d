package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable

/** Deterministic ten-topic OpenBMP wire generator with a driver-side
  * reference model of `ip_rib`.
  *
  * Key space: `regular` unicast keys spread over the regular peers, plus
  * `flapKeys` keys per flapping peer. Only flapping peers ever send a
  * peer-up after the first batch, so the T9 stale-route purge removes a
  * bounded slice of state per batch (that peer's routes) and the model
  * can mirror it exactly. Timestamps come from one strictly increasing
  * clock, so "latest" is never a tie.
  *
  * The model mirrors `GraftApp.processBatch` for `ip_rib`: purge the
  * up-peer's older rows, dedup the batch to the latest message per key,
  * then merge with retain-on-withdraw and count the CDC rows the
  * trigger predicate emits.
  */
final class Wire(seed: Long, val regular: Int, val flapKeys: Int = 50) {
  import Wire._

  private val rnd = new java.util.SplittableRandom(seed)
  val routers: IndexedSeq[String] = (0 until 4).map(i => s"r$i")
  val peers: IndexedSeq[String]   = (0 until 16).map(i => f"p$i%02d")
  val flappers: IndexedSeq[String] = (0 until 8).map(i => s"f$i")
  private val attrsPerPeer = 32
  private val total = regular + flappers.size * flapKeys

  private var clock = 1704067200000000L // 2024-01-01 00:00:00 UTC, epoch micros
  private def tick(): Long = { clock += 1 + rnd.nextInt(997); clock }

  // ---- the reference model: one slot per key -------------------------
  private val present = new Array[Boolean](total)
  private val tsOf    = new Array[Long](total)
  private val wdOf    = new Array[Boolean](total)
  private val attrOf  = Array.fill(total)(-1) // -1 = null attr (withdraw of an unseen key)
  private var bootstrapped = false
  private var batches = 0

  def peerOf(k: Int): String =
    if (k < regular) peers(k % peers.size) else flappers((k - regular) / flapKeys)
  def hashOf(k: Int): String = s"h$k"
  def attrHash(peer: String, j: Int): String = s"a${peer}_$j"
  private def originOf(j: Int): Long = 64500L + j

  def liveCount: Int = (0 until total).count(k => present(k) && !wdOf(k))
  def withdrawnCount: Int = (0 until total).count(k => present(k) && wdOf(k))

  /** Expected committed row of key `k` (None = absent). */
  def expected(k: Int): Option[Row] =
    if (!present(k)) None
    else Some(Row(peerOf(k), hashOf(k), tsOf(k), wdOf(k),
      if (attrOf(k) < 0) null else attrHash(peerOf(k), attrOf(k)),
      if (attrOf(k) < 0) 0L else originOf(attrOf(k))))

  def allExpected: Iterator[Row] = (0 until total).iterator.flatMap(expected)

  // ---- batch synthesis -----------------------------------------------

  /** One generated batch: TSV lines per topic plus what the model
    * expects the commit to produce.
    */
  final class Batch(val lines: Map[String, mutable.ArrayBuffer[String]],
                    val cdcRows: Long, val peerEvents: Long,
                    val touched: IndexedSeq[Int], val purged: IndexedSeq[Int]) {
    def messages: Long = lines.valuesIterator.map(_.size.toLong).sum
  }

  private def fmt(us: Long): String =
    LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
      (Math.floorMod(us, 1000000L) * 1000L).toInt, ZoneOffset.UTC).format(TsFmt)

  private def ip(n: Int): String =
    s"${10 + (n >>> 16) % 200}.${(n >>> 8) & 255}.${n & 255}.0"

  /** Inventory lines of the bootstrap: collector, routers, every peer
    * up, every attribute.
    */
  private def inventory(out: Map[String, mutable.ArrayBuffer[String]]): Long = {
    out("collector") += s"c0\tstarted\tadmin\t\t${routers.size}\t${fmt(tick())}"
    routers.zipWithIndex.foreach { case (r, i) =>
      out("router") += s"$r\trouter-$i\t192.0.2.$i\t${fmt(tick())}\tinit\t\t\t\t\tbench\t192.0.2.$i\tc0"
    }
    val all = peers ++ flappers
    all.zipWithIndex.foreach { case (p, i) =>
      out("peer") += peerLine(p, routers(i % routers.size), i, "first", tick())
    }
    all.foreach(p => (0 until attrsPerPeer).foreach(j => out("base_attribute") += attrLine(p, j, tick())))
    all.size.toLong
  }

  private def peerLine(p: String, router: String, i: Int, action: String, ts: Long): String =
    s"$p\t$router\t0:0\t1\t198.51.100.$i\tpeer-$p\t198.51.100.$i\t${65000 + i}\t$action\t0\t${fmt(ts)}\t1\t" +
      "203.0.113.1\t203.0.113.1\t179\t90\t65000\t33001\t90\tcap\tcap\t\t\t\t\t0\t0\ttbl"

  private def attrLine(p: String, j: Int, ts: Long): String =
    s"${attrHash(p, j)}\t$p\tigp\t65001 ${originOf(j)}\t${originOf(j)}\t203.0.113.9\t0\t100\t0\t\t\t\t\t\t\t2\t1\t${fmt(ts)}"

  private def prefixLine(k: Int, attr: Int, ts: Long, withdrawn: Boolean): String = {
    val a = if (withdrawn) "" else attrHash(peerOf(k), attr)
    val origin = if (withdrawn) "" else originOf(attr).toString
    s"${hashOf(k)}\t${peerOf(k)}\t$a\t1\t$origin\t${ip(k)}\t24\t${fmt(ts)}\t${if (withdrawn) 1 else 0}\t0\t\t1\t1"
  }

  /** Side topics (l3vpn, stats, link-state): a handful of lines each so
    * every topic's parse and merge runs in every batch. Not modelled
    * beyond their counts.
    */
  private def sideTopics(out: Map[String, mutable.ArrayBuffer[String]], n: Int): Unit = {
    for (_ <- 0 until n) {
      val p = peers(rnd.nextInt(peers.size)); val i = rnd.nextInt(4096)
      out("l3vpn") += s"v$i\t$p\t${attrHash(p, i % attrsPerPeer)}\t1\t65010\t${ip(i)}\t24\t${fmt(tick())}\t0\t0\t\t1\t1\t1:$i\t"
      val node = s"n${rnd.nextInt(256)}"
      out("ls_node") += s"$node\t$p\t\t${rnd.nextInt(1000)}\t65000\t1\t10.9.0.1\t0\tOSPFv2\t10.9.0.1\t\t\tnode\t\t\t0\t${fmt(tick())}"
      out("ls_link") += s"l${rnd.nextInt(512)}\t$p\t\t1\t$node\tn${rnd.nextInt(256)}\t10.8.0.1\t10.8.0.2\t0\t1\t2\t0\t1000\t1000\t\t10\t\t\t10\t\tlink\t0\t${fmt(tick())}"
      out("ls_prefix") += s"x${rnd.nextInt(512)}\t$p\t\t1\t$node\t0\tIntra\t\t\t\t\t10\t10.7.${i & 255}.0\t24\t0\t${fmt(tick())}"
    }
    for (_ <- 0 until math.max(1, n / 4))
      out("bmp_stat") += s"${peers(rnd.nextInt(peers.size))}\t${fmt(tick())}\t1\t2\t3\t0\t0\t0\t0\t${rnd.nextInt(1000)}\t${rnd.nextInt(1000)}"
  }

  /** A full RIB announce of every key: the steady workload's bootstrap
    * (`GraftApp.bootstrap`, batch id -1).
    */
  def bootstrap(): Batch = {
    val out = newOut()
    val events = inventory(out)
    val touched = new mutable.ArrayBuffer[Int](total)
    for (k <- 0 until total) {
      val a = rnd.nextInt(attrsPerPeer); val ts = tick()
      out("unicast_prefix") += prefixLine(k, a, ts, withdrawn = false)
      present(k) = true; tsOf(k) = ts; wdOf(k) = false; attrOf(k) = a
      touched += k
    }
    bootstrapped = true
    sideTopics(out, 8)
    new Batch(out, total.toLong, events, touched.toIndexedSeq, IndexedSeq.empty)
  }

  /** One update batch of about `size` messages after [[bootstrap]]:
    * unicast updates of random keys, 10 % of them withdraws and 5 %
    * repeats of a key already in the batch; one flapping peer comes up
    * (T9 purge) and re-announces about half of its table; a few lines
    * of every other topic.
    */
  def next(size: Int): Batch = {
    require(bootstrapped, "bootstrap() first")
    val out = newOut()
    out("collector") += s"c0\theartbeat\tadmin\t\t${routers.size}\t${fmt(tick())}"
    val r = batches % routers.size
    out("router") += s"${routers(r)}\trouter-$r\t192.0.2.$r\t${fmt(tick())}\tinit\t\t\t\t\tbench\t192.0.2.$r\tc0"
    // a few attribute re-sends: content-addressed, so no state change
    for (_ <- 0 until 4) {
      val p = peers(rnd.nextInt(peers.size))
      out("base_attribute") += attrLine(p, rnd.nextInt(attrsPerPeer), tick())
    }
    sideTopics(out, math.max(2, size / 200))

    // T9: the flapping peer's older rows are purged before the merge
    val f = batches % flappers.size
    val upTs = tick()
    out("peer") += peerLine(flappers(f), routers(f % routers.size), peers.size + f, "up", upTs)
    val fBase = regular + f * flapKeys
    val purged = (fBase until fBase + flapKeys).filter(k => present(k) && tsOf(k) < upTs)
    purged.foreach(k => present(k) = false)

    // batch-latest per key, applied after the purge like processBatch
    val latest = mutable.LinkedHashMap.empty[Int, (Long, Boolean, Int)]
    def emit(k: Int, wd: Boolean): Unit = {
      val a = if (wd) -1 else rnd.nextInt(attrsPerPeer)
      val ts = tick()
      out("unicast_prefix") += prefixLine(k, math.max(a, 0), ts, wd)
      latest(k) = (ts, wd, a)
    }
    (fBase until fBase + flapKeys).filter(_ => rnd.nextInt(2) == 0).foreach(emit(_, wd = false))
    val inBatch = new mutable.ArrayBuffer[Int]()
    for (_ <- 0 until size - out.valuesIterator.map(_.size).sum) {
      val u = rnd.nextDouble()
      if (u < 0.10) emit(rnd.nextInt(regular), wd = true)
      else if (u < 0.15 && inBatch.nonEmpty) emit(inBatch(rnd.nextInt(inBatch.size)), wd = false)
      else { val k = rnd.nextInt(regular); emit(k, wd = false); inBatch += k }
    }

    // merge: retain-on-withdraw, CDC when the flag flips or an advertise
    // is new or changes its attribute
    var cdc = 0L
    latest.foreach { case (k, (ts, wd, a)) =>
      val had = present(k)
      val change =
        if (!had) true
        else if (wd != wdOf(k)) true
        else !wd && a != attrOf(k)
      if (change) cdc += 1
      if (!(had && wd)) attrOf(k) = a // a withdraw keeps the old attribute
      present(k) = true; tsOf(k) = ts; wdOf(k) = wd
    }
    batches += 1
    new Batch(out, cdc, 1L, latest.keys.toIndexedSeq,
      purged.filterNot(latest.contains))
  }

  private def newOut(): Map[String, mutable.ArrayBuffer[String]] =
    Topics.map(t => t -> new mutable.ArrayBuffer[String]()).toMap

  /** Pick up to `n` keys of a batch that `v_ip_routes` must show (the
    * inner join on attributes hides a row whose attribute is null).
    */
  def probeKeys(b: Batch, n: Int): IndexedSeq[Int] = {
    val visible = b.touched.filter(k => present(k) && attrOf(k) >= 0)
    val step = math.max(1, visible.size / n)
    visible.indices.by(step).take(n).map(visible)
  }
}

object Wire {
  val Topics: Seq[String] = graft.streaming.GraftApp.Topics
  private val TsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  final case class Row(peer: String, hash: String, tsUs: Long, withdrawn: Boolean,
                       attr: String, originAs: Long)

  /** Publish a batch under `dir` the way a producer would: every topic
    * file is written into a hidden staging directory, which one atomic
    * rename makes visible, so the file source sees all of it or none.
    */
  def publish(dir: Path, name: String, b: Wire#Batch): Unit = {
    val stage = dir.resolve(s".$name.tmp")
    b.lines.foreach { case (t, ls) =>
      if (ls.nonEmpty) {
        val td = Files.createDirectories(stage.resolve(s"topic=${graft.streaming.GraftApp.TopicPrefix}$t"))
        Files.write(td.resolve("part-0.tsv"), ls.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      }
    }
    Files.move(stage, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }
}
