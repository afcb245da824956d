package graft.ip

import java.math.BigInteger
import java.net.Inet4Address

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Inet toolkit — the numeric canonical form for IP prefixes/addresses.
  *
  * The reference stores addresses as Postgres `inet` and relies on GiST
  * `inet_ops` for containment (`&&`, `>>=`) — see
  * `/root/reference/database/1_base.sql:66-81` (find_geo_ip LPM) and
  * `/root/reference/database/2_aggregations.sql:260-265` (RPKI covering
  * prefix). Spark has no inet type, so the engine canonicalizes every
  * address/prefix to `(family, start, end, len)` where start/end are
  * Decimal(39,0) big-endian numeric values (IPv6 needs 128 bits — never
  * a Long). Containment and LPM become range predicates that Catalyst
  * can plan as broadcast range joins; see [[graft.operators.LpmJoin]].
  *
  * String-level helpers (`host`, `family`) are pure built-in column
  * expressions (codegen'd); only the string→numeric conversion needs a
  * UDF (promoted to a Catalyst Expression only if bench demands —
  * SURVEY.md §7.3).
  */
object IpKit {

  /** Numeric value of an IP address string (IPv4 or IPv6), as an
    * unsigned big-endian integer. IPv4 → 0..2^32-1, IPv6 → 0..2^128-1.
    *
    * IPv4-mapped forms (`::ffff:a.b.c.d`) stay IPv6 (Postgres `family`
    * semantics — the reference's inet columns treat them as family 6);
    * Java's InetAddress normalizes them to Inet4Address, so the 16-byte
    * value is reconstructed from the mapped prefix.
    */
  def ipToBigInt(ip: String): BigInteger = {
    val s = ip.trim
    if (s.isEmpty) throw new IllegalArgumentException("empty address")
    // literal-ONLY parse (guava, shipped with Spark): InetAddress
    // .getByName would DNS-resolve any non-literal string — 'localhost'
    // silently becomes 127.0.0.1 (environment-dependent data), and every
    // malformed cell costs a blocking network lookup inside the scan hot
    // path. forString throws on non-literals without ever touching DNS.
    val addr = com.google.common.net.InetAddresses.forString(s)
    addr match {
      case v4: Inet4Address if s.contains(":") =>
        // ::ffff:a.b.c.d — rebuild the 128-bit mapped value
        new BigInteger(1, v4.getAddress)
          .add(BigInteger.valueOf(0xffffL).shiftLeft(32))
      case a => new BigInteger(1, a.getAddress)
    }
  }

  /** (family, start, end) of a prefix "addr/len" (len optional → host). */
  def prefixRange(prefix: String): (Int, BigInteger, BigInteger) = {
    val (addrStr, lenOpt) = prefix.indexOf('/') match {
      case -1 => (prefix, None)
      case i  => (prefix.substring(0, i), Some(prefix.substring(i + 1).toInt))
    }
    val bits = if (addrStr.contains(":")) 128 else 32
    val len  = lenOpt.getOrElse(bits)
    // out-of-range masks must throw (→ null through the catching
    // wrappers), not wrap: a negative BigInteger shift REVERSES
    // direction, so '1.2.3.4/40' would silently yield end < start — a
    // range no probe can ever land in — and a negative len would crash
    // toFixedBytes with an array bounds error
    if (len < 0 || len > bits)
      throw new IllegalArgumentException(s"mask /$len out of range for $bits-bit address")
    val value   = ipToBigInt(addrStr)
    val hostLen = bits - len
    val start   = value.shiftRight(hostLen).shiftLeft(hostLen)
    val end     = start.add(BigInteger.ONE.shiftLeft(hostLen)).subtract(BigInteger.ONE)
    (if (bits == 32) 4 else 6, start, end)
  }

  /** 32/128-char bit string of an address — parity with the reference's
    * `IpAddr.getIpBits` (`src/main/java/org/openbmp/helpers/IpAddr.java`,
    * asserted in `ConsumerRunnableAppTest.java:34-38`).
    */
  def ipToBits(ip: String): String = {
    val addr  = com.google.common.net.InetAddresses.forString(ip.trim) // literal-only, no DNS
    val bytes = addr.getAddress
    bytes.map(b => String.format("%8s", Integer.toBinaryString(b & 0xff)).replace(' ', '0')).mkString
  }

  // ---- column-level API ----------------------------------------------
  //
  // Numeric form = fixed-length big-endian bytes (4 for v4, 16 for v6):
  // Spark compares BinaryType lexicographically on unsigned bytes, which
  // for fixed equal lengths IS unsigned numeric order — and unlike
  // Decimal (max precision 38 < 2^128-1) it holds full IPv6 range.
  // Families never compare against each other (ip_family splits them).

  private[graft] def toFixedBytes(b: BigInteger, len: Int): Array[Byte] = {
    val raw = b.toByteArray.dropWhile(_ == 0)
    val out = new Array[Byte](len)
    System.arraycopy(raw, 0, out, len - raw.length, raw.length)
    out
  }

  private def addrLen(ip: String): Int = if (ip.contains(":")) 16 else 4

  // The UDFs mirror the native expressions' null-on-malformed contract
  // (a single dirty cell in an external geo/RPKI file must not abort
  // the job) — catch-to-null, with blank-after-trim also null.
  private def nullOnError[T >: Null](f: String => T): String => T =
    (s: String) =>
      if (s == null || s.trim.isEmpty) null
      else try f(s.trim) catch { case _: Exception => null }

  val ipNumUdf = udf(nullOnError(ip => toFixedBytes(ipToBigInt(ip), addrLen(ip))))

  /** Native codegen'd form of [[ipNumUdf]] ([[graft.plans.InetNum]]):
    * same null-on-empty/malformed semantics, but inlined in the
    * enclosing WholeStageCodegen span instead of a UDF call — the hot
    * path for probe-address derivation.
    */
  def inetNum(c: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.plans.InetNum(org.apache.spark.sql.GraftColumnBridge.expression(c)))

  /** Aligned ancestor start of a binary address at `len` bits (native
    * codegen'd [[graft.plans.InetAligned]]); null when len exceeds the
    * address width — the candidate key of the expansion LPM.
    */
  def inetAligned(addr: Column, len: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.plans.InetAligned(
        org.apache.spark.sql.GraftColumnBridge.expression(addr),
        org.apache.spark.sql.GraftColumnBridge.expression(len)))

  val prefixStartUdf = udf(nullOnError(p => toFixedBytes(prefixRange(p)._2, addrLen(p))))

  val prefixEndUdf = udf(nullOnError(p => toFixedBytes(prefixRange(p)._3, addrLen(p))))

  val ipBitsUdf = udf(nullOnError(ipToBits))

  /** `host(inet)` — strip the mask (`8_views.sql:11,13,33-34,76`). */
  def inetHost(c: Column): Column = regexp_extract(c, "^([^/]+)", 1)

  /** `family(inet)` → 4|6, NULL for NULL (`2_aggregations.sql:371-376`;
    * Postgres family(NULL) is NULL — an `otherwise(4)` would stamp
    * phantom v4 rows for null prefixes).
    */
  def inetFamily(c: Column): Column =
    when(c.contains(":"), lit(6)).when(c.isNotNull, lit(4))

  /** mask length of "addr/len", default by family, NULL for NULL. */
  def inetMaskLen(c: Column): Column =
    when(c.contains("/"), regexp_extract(c, "/(\\d+)$", 1).cast(IntegerType))
      .when(c.contains(":"), lit(128))
      .when(c.isNotNull, lit(32))

  /** Derive (ip_start, ip_end, ip_family, ip_len) columns from a prefix
    * string column — the canonical enrichment applied at ingest so that
    * downstream joins never touch strings.
    */
  def withPrefixRange(df: org.apache.spark.sql.DataFrame, prefixCol: String): org.apache.spark.sql.DataFrame =
    df.withColumn("ip_start", prefixStartUdf(col(prefixCol)))
      .withColumn("ip_end", prefixEndUdf(col(prefixCol)))
      .withColumn("ip_family", inetFamily(col(prefixCol)))
      .withColumn("ip_len", inetMaskLen(col(prefixCol)))
}
