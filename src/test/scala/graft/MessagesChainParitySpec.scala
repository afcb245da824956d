package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Messages
import graft.model.Messages._

/** The topic parsers, each one `from_csv` projection plus one select of
  * coercions, against the `withColumn` chain they replaced (kept below
  * verbatim): same schema — column order, types, nullability — and the
  * same rows, over edge-case lines.
  */
class MessagesChainParitySpec extends SparkSpec {
  import spark.implicits._

  // ---- the replaced chain ---------------------------------------------
  private object Chain {
    def parseTsv(df: DataFrame, lineCol: String, schema: StructType): DataFrame = {
      val parsed = df.withColumn("__p",
        from_csv(col(lineCol), schema, Map("sep" -> "\t", "quote" -> "")))
      schema.fields.foldLeft(parsed)((d, f) => d.withColumn(f.name, col(s"__p.${f.name}")))
        .drop("__p")
    }
    def unicastPrefixFromTsv(raw: DataFrame, lineCol: String = "line"): DataFrame =
      parseTsv(raw, lineCol, unicastPrefixSchema)
        .withColumn("isIPv4", boolCell(col("isIPv4")))
        .withColumn("origin_as", longEmptyAsZero(col("origin_as")))
        .withColumn("prefix_len", longEmptyAsZero(col("prefix_len")).cast(IntegerType))
        .withColumn("timestamp", parseTs(col("timestamp")))
        .withColumn("ts_us", unix_micros(col("timestamp")))
        .withColumn("isWithdrawn", boolCell(col("isWithdrawn")))
        .withColumn("path_id", longEmptyAsZero(col("path_id")))
        .withColumn("labels", nullAsEmpty(col("labels")))
        .withColumn("isPrePolicy", boolCell(col("isPrePolicy")))
        .withColumn("isAdjRibIn", boolCell(col("isAdjRibIn")))
        .filter(col("prefix_len") <= 128)
    def baseAttributeFromTsv(raw: DataFrame, lineCol: String = "line"): DataFrame =
      parseTsv(raw, lineCol, baseAttributeSchema)
        .withColumn("as_path", longArray(col("as_path")))
        .withColumn("origin_as", longEmptyAsZero(col("origin_as")))
        .withColumn("med", longEmptyAsZero(col("med")))
        .withColumn("local_pref", longEmptyAsZero(col("local_pref")))
        .withColumn("isAtomicAgg", boolCell(col("isAtomicAgg")))
        .withColumn("community_list", strArray(col("community_list")))
        .withColumn("ext_community_list", strArray(col("ext_community_list")))
        .withColumn("large_community_list", strArray(col("large_community_list")))
        .withColumn("cluster_list", strArray(col("cluster_list")))
        .withColumn("as_path_count", longEmptyAsZero(col("as_path_count")).cast(IntegerType))
        .withColumn("nexthop_isIPv4", boolCell(col("nexthop_isIPv4")))
        .withColumn("timestamp", parseTs(col("timestamp")))
        .withColumn("ts_us", unix_micros(col("timestamp")))
    def peerFromTsv(raw: DataFrame, lineCol: String = "line"): DataFrame =
      parseTsv(raw, lineCol, peerSchema)
        .withColumn("isIPv4", boolCell(col("isIPv4")))
        .withColumn("peer_as", longEmptyAsZero(col("peer_as")))
        .withColumn("state", when(col("action").isin("first", "up"), lit("up")).otherwise(lit("down")))
        .withColumn("isL3VPNpeer", boolCell(col("isL3VPNpeer")))
        .withColumn("timestamp", parseTs(col("timestamp")))
        .withColumn("ts_us", unix_micros(col("timestamp")))
        .withColumn("isPrePolicy", boolCell(col("isPrePolicy")))
        .withColumn("local_port", longEmptyAsNull(col("local_port")))
        .withColumn("local_hold_time", longEmptyAsNull(col("local_hold_time")))
        .withColumn("local_asn", longEmptyAsNull(col("local_asn")))
        .withColumn("remote_port", longEmptyAsNull(col("remote_port")))
        .withColumn("remote_hold_time", longEmptyAsNull(col("remote_hold_time")))
        .withColumn("bgp_err_code", longEmptyAsNull(col("bgp_err_code")))
        .withColumn("bgp_err_subcode", longEmptyAsNull(col("bgp_err_subcode")))
        .withColumn("isLocRib", boolCell(col("isLocRib")))
        .withColumn("isLocRibFiltered", boolCell(col("isLocRibFiltered")))
    def routerFromTsv(raw: DataFrame, lineCol: String = "line"): DataFrame =
      parseTsv(raw, lineCol, routerSchema)
        .withColumn("state", when(col("action") === "term", lit("down")).otherwise(lit("up")))
        .withColumn("timestamp", parseTs(col("timestamp")))
        .withColumn("ts_us", unix_micros(col("timestamp")))
    def collectorFromTsv(raw: DataFrame, lineCol: String = "line"): DataFrame =
      parseTsv(raw, lineCol, collectorSchema)
        .withColumn("state", when(col("action") === "stopped", lit("down")).otherwise(lit("up")))
        .withColumn("router_count", longEmptyAsZero(col("router_count")).cast(IntegerType))
        .withColumn("timestamp", parseTs(col("timestamp")))
        .withColumn("ts_us", unix_micros(col("timestamp")))
    def l3vpnFromTsv(raw: DataFrame, lineCol: String = "line"): DataFrame =
      parseTsv(raw, lineCol, l3vpnSchema)
        .withColumn("isIPv4", boolCell(col("isIPv4")))
        .withColumn("origin_as", longEmptyAsZero(col("origin_as")))
        .withColumn("prefix_len", longEmptyAsZero(col("prefix_len")).cast(IntegerType))
        .withColumn("timestamp", parseTs(col("timestamp")))
        .withColumn("ts_us", unix_micros(col("timestamp")))
        .withColumn("isWithdrawn", boolCell(col("isWithdrawn")))
        .withColumn("path_id", longEmptyAsZero(col("path_id")))
        .withColumn("isPrePolicy", boolCell(col("isPrePolicy")))
        .withColumn("isAdjRibIn", boolCell(col("isAdjRibIn")))
        .withColumn("rd", nullAsEmpty(col("rd")))
        .withColumn("ext_community_list", strArray(col("ext_community_list")))
        .filter(col("prefix_len") <= 128)
    private def lsCommon(df: DataFrame): DataFrame =
      df.withColumn("seq", longEmptyAsZero(col("seq")))
        .withColumn("isWithdrawn", boolCell(col("isWithdrawn")))
        .withColumn("timestamp", parseTs(col("timestamp")))
        .withColumn("ts_us", unix_micros(col("timestamp")))
        .withColumn("protocol",
          when(col("protocol").isin(LsProtocols.toSeq: _*), col("protocol"))
            .otherwise(lit("")))
    def lsNodeFromTsv(raw: DataFrame, lineCol: String = "line"): DataFrame =
      lsCommon(parseTsv(raw, lineCol, lsNodeSchema)
        .withColumn("asn", longEmptyAsZero(col("asn"))))
    def lsLinkFromTsv(raw: DataFrame, lineCol: String = "line"): DataFrame =
      lsCommon(parseTsv(raw, lineCol, lsLinkSchema).withColumn("protocol", lit("")))
        .withColumn("igp_metric", longEmptyAsZero(col("igp_metric")))
        .withColumn("local_asn", longEmptyAsZero(col("local_asn")))
        .withColumn("remote_asn", longEmptyAsZero(col("remote_asn")))
    def lsPrefixFromTsv(raw: DataFrame, lineCol: String = "line"): DataFrame =
      lsCommon(parseTsv(raw, lineCol, lsPrefixSchema).withColumn("protocol", lit("")))
        .withColumn("prefix_len", longEmptyAsZero(col("prefix_len")).cast(IntegerType))
        .withColumn("metric", longEmptyAsZero(col("metric")))
        .withColumn("ospf_route_type",
          when(col("ospf_route_type").isin(OspfRouteTypes.toSeq: _*),
            col("ospf_route_type")).otherwise(lit("")))
    def bmpStatFromTsv(raw: DataFrame, lineCol: String = "line"): DataFrame = {
      val parsed = parseTsv(raw, lineCol, bmpStatSchema)
      bmpStatSchema.fieldNames.filterNot(Set("peer_hash_id", "timestamp"))
        .foldLeft(parsed)((d, c) => d.withColumn(c, longEmptyAsZero(col(c))))
        .withColumn("timestamp", parseTs(col("timestamp")))
        .withColumn("ts_us", unix_micros(col("timestamp")))
    }
  }

  // ---- edge-case lines ------------------------------------------------
  /** Line k of a schema: cells cycle through empty, padded and bad
    * numbers, both timestamp formats and a bad one, prefix_len beyond
    * 128, unknown LS protocols and OSPF route types, and arrays.
    */
  private def cell(field: String, k: Int): String = {
    def pick(xs: String*) = xs(k % xs.size)
    field match {
      case "timestamp" => pick("2024-01-01 00:00:01.123456", "2024-01-01 00:00:02", "garbage", "")
      case "prefix_len" => pick("24", "129", "", " 128 ", "200")
      case "protocol" => pick("OSPFv2", "BOGUS", "", "IS-IS_L1", "ospfv2")
      case "ospf_route_type" => pick("Intra", "Weird", "", "Ext-2")
      case "action" => pick("up", "first", "term", "stopped", "down", "init", "started")
      case _ => pick("", "7", " 12 ", "1 2  3", "true", "t", "abc", "0", "1")
    }
  }
  private def lines(schema: StructType): Seq[String] =
    (0 until 18).map(k => schema.fieldNames.zipWithIndex.map { case (f, i) => cell(f, k + i) }
      .mkString("\t")) ++ Seq("onlyonecell", "", "a\tb")

  /** Same schema under the session's confs; same rows with ANSI mode
    * off, where a bad number or timestamp cell reads as null instead of
    * failing the query (both forms fail alike with it on).
    */
  private def ansiOff[A](body: => A): A = {
    val key = "spark.sql.ansi.enabled"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def sameFrames(got: => DataFrame, want: => DataFrame, what: String): Unit = {
    assert(got.schema === want.schema, what)
    ansiOff {
      assert(got.schema === want.schema, what)
      def rows(d: DataFrame) = d.collect().toSeq.map(_.toString).sorted
      assert(rows(got) === rows(want), what)
    }
  }

  private val topics: Seq[(String, StructType, DataFrame => DataFrame, DataFrame => DataFrame)] = Seq(
    ("collector", collectorSchema, Messages.collectorFromTsv(_), Chain.collectorFromTsv(_)),
    ("router", routerSchema, Messages.routerFromTsv(_), Chain.routerFromTsv(_)),
    ("peer", peerSchema, Messages.peerFromTsv(_), Chain.peerFromTsv(_)),
    ("base_attribute", baseAttributeSchema, Messages.baseAttributeFromTsv(_),
      Chain.baseAttributeFromTsv(_)),
    ("unicast_prefix", unicastPrefixSchema, Messages.unicastPrefixFromTsv(_),
      Chain.unicastPrefixFromTsv(_)),
    ("l3vpn", l3vpnSchema, Messages.l3vpnFromTsv(_), Chain.l3vpnFromTsv(_)),
    ("bmp_stat", bmpStatSchema, Messages.bmpStatFromTsv(_), Chain.bmpStatFromTsv(_)),
    ("ls_node", lsNodeSchema, Messages.lsNodeFromTsv(_), Chain.lsNodeFromTsv(_)),
    ("ls_link", lsLinkSchema, Messages.lsLinkFromTsv(_), Chain.lsLinkFromTsv(_)),
    ("ls_prefix", lsPrefixSchema, Messages.lsPrefixFromTsv(_), Chain.lsPrefixFromTsv(_)))

  test("each topic parser equals the withColumn chain: schema and rows") {
    topics.foreach { case (topic, schema, parse, chain) =>
      val raw = lines(schema).toDF("line")
      sameFrames(parse(raw), chain(raw), topic)
    }
    // the edge cases are exercised, not filtered away wholesale
    ansiOff {
      val prefixes = Messages.unicastPrefixFromTsv(lines(unicastPrefixSchema).toDF("line"))
      assert(prefixes.filter(col("prefix_len") > 0).count() > 0)
      assert(prefixes.filter(col("ts_us").isNull).count() > 0)
      assert(prefixes.filter(col("ts_us") % 1000000L =!= 0).count() > 0)
      assert(prefixes.filter(col("ts_us") % 1000000L === 0).count() > 0)
      assert(Messages.lsNodeFromTsv(lines(lsNodeSchema).toDF("line"))
        .filter(col("protocol") === "OSPFv2").count() > 0)
    }
  }

  test("bmpStatFromTsv as Queries uses it (an extra key column) equals the chain") {
    val raw = lines(bmpStatSchema).zipWithIndex.map { case (l, i) => (i.toLong, l) }
      .toDF("o_orderkey", "line")
    sameFrames(Messages.bmpStatFromTsv(raw), Chain.bmpStatFromTsv(raw), "bmp_stat(o_orderkey, line)")
    sameFrames(Messages.parseTsv(raw, "line", bmpStatSchema),
      Chain.parseTsv(raw, "line", bmpStatSchema), "parseTsv")
  }
}
