package graft

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.operators.LpmJoin

/** J5/J6: the LPM strategies agree with a brute-force scan (seeded
  * random property), and the covering join reproduces the RPKI
  * containment predicate of `2_aggregations.sql:260-265`.
  */
class LpmJoinSpec extends SparkSpec {
  import spark.implicits._

  private val bits = 10 // small space: plenty of overlap

  private def align(addr: Long, len: Int): Long = {
    val step = 1L << (bits - len)
    addr - addr % step
  }

  test("lpmRange == lpmByExpansionAgg == brute force on random data") {
    val rnd = new Random(42)
    for (_ <- 1 to 5) {
      val pfx = (0 until 40).map { i =>
        val l = 1 + rnd.nextInt(bits)
        val a = rnd.nextLong().abs % (1L << bits)
        (i.toLong, l, align(a, l), align(a, l) + (1L << (bits - l)) - 1)
      }
      val rawProbes = (0 until 25).map(_ => rnd.nextLong().abs % (1L << bits))
      val prefixes = pfx.toDF("pid", "len", "pstart", "pend")
      val probes = rawProbes.zipWithIndex.map { case (a, i) => (i.toLong, a) }
        .toDF("probe_id", "addr")

      def resOf(df: org.apache.spark.sql.DataFrame) =
        df.select("probe_id", "len", "pstart", "pid").collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet

      val viaRange = resOf(LpmJoin.lpmRange(probes, Seq("probe_id"), "addr",
        prefixes, "pstart", "pend", "len", tieBreak = Seq(col("pid").asc)))
      val viaAgg = resOf(LpmJoin.lpmByExpansionAgg(probes, Seq("probe_id"), "addr",
        prefixes, "pstart", "len", bits, payload = Seq("pid"), tieBreakAsc = "pid"))

      val brute = rawProbes.zipWithIndex.flatMap { case (a, i) =>
        val matches = pfx.filter(p => a >= p._3 && a <= p._4)
        if (matches.isEmpty) None
        else {
          val best = matches.minBy(p => (-p._2, -p._3, p._1))
          Some((i.toLong, best._2, best._3, best._1))
        }
      }.toSet

      assert(viaRange === brute)
      assert(viaAgg === brute)
    }
  }

  test("lpmByExpansionBinary == lpmRange on mixed v4/v6 binary form") {
    import graft.ip.IpKit
    val rnd = new Random(7)
    def rv4() = s"${10 + rnd.nextInt(3)}.${rnd.nextInt(4)}.${rnd.nextInt(4)}.${rnd.nextInt(256)}"
    def rv6() = f"2001:${rnd.nextInt(3)}%x:${rnd.nextInt(3)}%x::${rnd.nextInt(8)}%x"
    for (round <- 1 to 3) {
      // random lens incl. non-nibble-aligned; prefixRange canonicalizes
      // (masks host bits), so unaligned addr/len inputs are fine; add
      // the default routes and host-length prefixes explicitly
      val pfx = (0 until 80).map { i =>
        val fam4 = rnd.nextBoolean()
        val addr = if (fam4) rv4() else rv6()
        val len  = if (fam4) 1 + rnd.nextInt(32) else 1 + rnd.nextInt(128)
        (i.toLong, s"$addr/$len")
      } ++ Seq((80L, "::/0"), (81L, "0.0.0.0/0"),
        (82L, s"${rv4()}/32"), (83L, s"${rv6()}/128"))
      val dim = IpKit.withPrefixRange(pfx.toDF("pid", "prefix"), "prefix")
      val probes = (0 until 60).map { i =>
        val ip = rnd.nextInt(3) match {
          case 0 => rv4()
          case 1 => rv6()
          case _ => s"::ffff:${rv4()}"
        }
        (i.toLong, ip)
      }.toDF("probe_id", "ip").withColumn("addr", IpKit.inetNum(col("ip")))

      def resOf(df: org.apache.spark.sql.DataFrame) =
        df.select("probe_id", "ip_len", "pid").collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

      val viaRange = resOf(LpmJoin.lpmRange(probes, Seq("probe_id"), "addr",
        dim, "ip_start", "ip_end", "ip_len", tieBreak = Seq(col("pid").asc),
        extraCond = length(col("addr")) === length(col("ip_start"))))
      val viaExp = resOf(LpmJoin.lpmByExpansionBinary(probes, Seq("probe_id"), "addr",
        dim, "ip_start", "ip_len", payload = Seq("pid"), tieBreakAsc = "pid"))
      assert(viaRange.nonEmpty, s"round $round produced no matches — bad generator")
      assert(viaExp === viaRange)
    }
  }

  test("lpmByExpansionBinary tolerates dirty and empty dims like lpmRange") {
    import graft.ip.IpKit
    val clean = IpKit.withPrefixRange(
      Seq((1L, "10.0.0.0/8")).toDF("pid", "prefix"), "prefix")
    // a dim row whose prefix failed to parse: null start/len ride along
    val nullRow = Seq(2L).toDF("pid")
      .withColumn("prefix", lit("bad"))
      .withColumn("ip_start", lit(null).cast("binary"))
      .withColumn("ip_end", lit(null).cast("binary"))
      .withColumn("ip_family", lit(4))
      .withColumn("ip_len", lit(null).cast("int"))
    val dirty = clean.unionByName(nullRow.select(clean.columns.map(col).toIndexedSeq: _*))
    val probes = Seq((1L, "10.1.2.3")).toDF("probe_id", "ip")
      .withColumn("addr", IpKit.inetNum(col("ip")))
    val got = LpmJoin.lpmByExpansionBinary(probes, Seq("probe_id"), "addr",
      dirty, "ip_start", "ip_len", payload = Seq("pid"), tieBreakAsc = "pid")
      .select("pid").as[Long].collect().toSeq
    assert(got === Seq(1L)) // dirty row never matches, never throws
    val empty = dirty.filter(col("pid") === 99L)
    assert(LpmJoin.lpmByExpansionBinary(probes, Seq("probe_id"), "addr",
      empty, "ip_start", "ip_len", payload = Seq("pid"), tieBreakAsc = "pid")
      .count() === 0) // empty dim → empty result, not an analysis error
  }

  test("inetAligned masks host bits; null beyond family width") {
    import graft.ip.IpKit
    val df = Seq(("10.1.255.3", "2001:db8:abcd:ef01::42")).toDF("v4", "v6")
      .select(
        hex(IpKit.inetAligned(IpKit.inetNum(col("v4")), lit(13))).as("a13"),
        hex(IpKit.inetAligned(IpKit.inetNum(col("v4")), lit(32))).as("a32"),
        IpKit.inetAligned(IpKit.inetNum(col("v4")), lit(48)).as("a48"),
        hex(IpKit.inetAligned(IpKit.inetNum(col("v6")), lit(45))).as("b45"),
        hex(IpKit.inetAligned(IpKit.inetNum(col("v6")), lit(0))).as("b0"))
      .collect()(0)
    assert(df.getString(0) === "0A000000")       // /13 keeps 10.0/13: 0A00...
    assert(df.getString(1) === "0A01FF03")       // /32 = identity for v4
    assert(df.isNullAt(2))                       // v4 has no /48 ancestor
    assert(df.getString(3) === "20010DB8ABC8" + "0" * 20) // 6th byte cd & f8 = c8
    assert(df.getString(4) === "0" * 32)         // /0 zeroes all
  }

  test("coveringJoin reproduces the RPKI predicate") {
    val roas = Seq((0L, 511L, 6)).toDF("rstart", "rend", "maxlen")
    val ribs = Seq(
      (1L, align(100, 4), align(100, 4) + (1L << 6) - 1, 4),  // inside, len ok
      (2L, align(100, 8), align(100, 8) + (1L << 2) - 1, 8),  // inside, len too long
      (3L, align(600, 5), align(600, 5) + (1L << 5) - 1, 5))  // outside
      .toDF("id", "rib_start", "rib_end", "len")
    val got = LpmJoin.coveringJoin(ribs, "rib_start", "rib_end", "len",
      roas, "rstart", "rend", "maxlen").select("id").as[Long].collect().toSet
    assert(got === Set(1L))
  }

  test("coveringJoinByExpansion ≡ coveringJoin on aligned dims") {
    // numeric 16-bit space: pseudo-random aligned dims + facts
    val dims = spark.range(200).select(
      (lit(4) + col("id") % 8L).cast("int").as("rlen"),
      (col("id") * 131L % 65536L).as("raddr"),
      (lit(1) + col("id") % 5L).as("extra"))
      .withColumn("rstep", pow(lit(2.0), lit(16) - col("rlen")).cast("long"))
      .withColumn("rstart", col("raddr") - col("raddr") % col("rstep"))
      .withColumn("rend", col("rstart") + col("rstep") - 1)
      .withColumn("maxlen", col("rlen") + col("extra"))
      .select("rstart", "rend", "rlen", "maxlen")
    val facts = spark.range(2000).select(
      col("id"),
      (lit(3) + col("id") % 12L).as("len"),
      (col("id") * 7741L % 65536L).as("addr"))
      .withColumn("step", pow(lit(2.0), lit(16) - col("len")).cast("long"))
      .withColumn("rib_start", col("addr") - col("addr") % col("step"))
      .withColumn("rib_end", col("rib_start") + col("step") - 1)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.select(col("id"), col("rstart"), col("maxlen")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val nlj = pairs(LpmJoin.coveringJoin(facts, "rib_start", "rib_end", "len",
      dims, "rstart", "rend", "maxlen"))
    val exp = pairs(LpmJoin.coveringJoinByExpansion(facts, "rib_start", "len",
      dims, "rstart", "rlen", "maxlen", bits = 16))
    assert(exp === nlj)
    assert(nlj.nonEmpty)
  }
}
