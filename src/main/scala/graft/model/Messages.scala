package graft.model

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** OpenBMP parsed-message model — one schema per bus topic, with the
  * TSV envelope parsing and cell coercions of the reference consumer
  * (SURVEY.md §1.3, §2.1 S2/S3).
  *
  * Field sets mirror what the reference Query classes serialize
  * (`/root/reference/src/main/java/org/openbmp/psqlquery/
  * UnicastPrefixQuery.java:49-97`, `BaseAttributeQuery.java:42-77`,
  * `PeerQuery.java:42-106`, `RouterQuery.java:42-78`,
  * `CollectorQuery.java:33-52`, `BmpStatQuery.java:28-53`,
  * `L3VpnPrefixQuery.java:47-91`).
  *
  * Coercions (`processor/ParseNullAsEmpty.java`, `ParseLongEmptyAsZero
  * .java`, `ParseTimestamp.java`): null string → "", empty numeric → 0,
  * timestamps `yyyy-MM-dd HH:mm:ss[.SSSSSS]` UTC.
  */
object Messages {

  val TsFormat = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  // ---- schemas (TSV column order = serialization order) --------------

  val unicastPrefixSchema: StructType = StructType(Seq(
    StructField("hash_id", StringType),
    StructField("peer_hash_id", StringType),
    StructField("base_attr_hash_id", StringType),
    StructField("isIPv4", StringType),
    StructField("origin_as", StringType),
    StructField("prefix", StringType),
    StructField("prefix_len", StringType),
    StructField("timestamp", StringType),
    StructField("isWithdrawn", StringType),
    StructField("path_id", StringType),
    StructField("labels", StringType),
    StructField("isPrePolicy", StringType),
    StructField("isAdjRibIn", StringType)))

  val baseAttributeSchema: StructType = StructType(Seq(
    StructField("hash_id", StringType),
    StructField("peer_hash_id", StringType),
    StructField("origin", StringType),
    StructField("as_path", StringType),
    StructField("origin_as", StringType),
    StructField("next_hop", StringType),
    StructField("med", StringType),
    StructField("local_pref", StringType),
    StructField("isAtomicAgg", StringType),
    StructField("aggregator", StringType),
    StructField("community_list", StringType),
    StructField("ext_community_list", StringType),
    StructField("large_community_list", StringType),
    StructField("cluster_list", StringType),
    StructField("originator_id", StringType),
    StructField("as_path_count", StringType),
    StructField("nexthop_isIPv4", StringType),
    StructField("timestamp", StringType)))

  val peerSchema: StructType = StructType(Seq(
    StructField("hash_id", StringType),
    StructField("router_hash_id", StringType),
    StructField("peer_rd", StringType),
    StructField("isIPv4", StringType),
    StructField("peer_addr", StringType),
    StructField("name", StringType),
    StructField("peer_bgp_id", StringType),
    StructField("peer_as", StringType),
    StructField("action", StringType),
    StructField("isL3VPNpeer", StringType),
    StructField("timestamp", StringType),
    StructField("isPrePolicy", StringType),
    StructField("local_ip", StringType),
    StructField("local_bgp_id", StringType),
    StructField("local_port", StringType),
    StructField("local_hold_time", StringType),
    StructField("local_asn", StringType),
    StructField("remote_port", StringType),
    StructField("remote_hold_time", StringType),
    StructField("sent_capabilities", StringType),
    StructField("recv_capabilities", StringType),
    StructField("bmp_reason", StringType),
    StructField("bgp_err_code", StringType),
    StructField("bgp_err_subcode", StringType),
    StructField("error_text", StringType),
    StructField("isLocRib", StringType),
    StructField("isLocRibFiltered", StringType),
    StructField("table_name", StringType)))

  val routerSchema: StructType = StructType(Seq(
    StructField("hash_id", StringType),
    StructField("name", StringType),
    StructField("ip_address", StringType),
    StructField("timestamp", StringType),
    StructField("action", StringType),
    StructField("term_code", StringType),
    StructField("term_reason", StringType),
    StructField("term_data", StringType),
    StructField("init_data", StringType),
    StructField("description", StringType),
    StructField("bgp_id", StringType),
    StructField("collector_hash_id", StringType)))

  val collectorSchema: StructType = StructType(Seq(
    StructField("hash_id", StringType),
    StructField("action", StringType),
    StructField("admin_id", StringType),
    StructField("routers", StringType),
    StructField("router_count", StringType),
    StructField("timestamp", StringType)))

  val bmpStatSchema: StructType = StructType(Seq(
    StructField("peer_hash_id", StringType),
    StructField("timestamp", StringType),
    StructField("prefixes_rejected", StringType),
    StructField("known_dup_prefixes", StringType),
    StructField("known_dup_withdraws", StringType),
    StructField("invalid_cluster_list", StringType),
    StructField("invalid_as_path", StringType),
    StructField("invalid_originator", StringType),
    StructField("invalid_as_confed", StringType),
    StructField("routes_adj_rib_in", StringType),
    StructField("routes_loc_rib", StringType)))

  /** l3vpn = unicast_prefix + rd + ext_community_list
    * (`L3VpnPrefixQuery.java:47-91`).
    */
  val l3vpnSchema: StructType = StructType(
    unicastPrefixSchema.fields ++ Seq(
      StructField("rd", StringType),
      StructField("ext_community_list", StringType)))

  /** ls_node key fields (`LsNodeQuery.java:44-84`). */
  val lsNodeSchema: StructType = StructType(Seq(
    StructField("hash_id", StringType),
    StructField("peer_hash_id", StringType),
    StructField("base_attr_hash_id", StringType),
    StructField("seq", StringType),
    StructField("asn", StringType),
    StructField("bgp_ls_id", StringType),
    StructField("igp_router_id", StringType),
    StructField("ospf_area_id", StringType),
    StructField("protocol", StringType),
    StructField("router_id", StringType),
    StructField("isis_area_id", StringType),
    StructField("flags", StringType),
    StructField("name", StringType),
    StructField("mt_ids", StringType),
    StructField("sr_capabilities", StringType),
    StructField("isWithdrawn", StringType),
    StructField("timestamp", StringType)))

  /** ls_link key fields (`LsLinkQuery.java:65-131`). */
  val lsLinkSchema: StructType = StructType(Seq(
    StructField("hash_id", StringType),
    StructField("peer_hash_id", StringType),
    StructField("base_attr_hash_id", StringType),
    StructField("seq", StringType),
    StructField("local_node_hash_id", StringType),
    StructField("remote_node_hash_id", StringType),
    StructField("intf_ip", StringType),
    StructField("nei_ip", StringType),
    StructField("mt_id", StringType),
    StructField("local_link_id", StringType),
    StructField("remote_link_id", StringType),
    StructField("admin_group", StringType),
    StructField("max_link_bw", StringType),
    StructField("max_resv_bw", StringType),
    StructField("unreserved_bw", StringType),
    StructField("te_def_metric", StringType),
    StructField("protection_type", StringType),
    StructField("mpls_proto_mask", StringType),
    StructField("igp_metric", StringType),
    StructField("srlg", StringType),
    StructField("name", StringType),
    StructField("isWithdrawn", StringType),
    StructField("timestamp", StringType),
    // trailing reference columns (`LsLinkQuery.java:26-32` insert list) —
    // appended last so shorter fixture lines parse with trailing nulls
    StructField("local_igp_router_id", StringType),
    StructField("local_router_id", StringType),
    StructField("remote_igp_router_id", StringType),
    StructField("remote_router_id", StringType),
    StructField("local_asn", StringType),
    StructField("remote_asn", StringType),
    StructField("peer_node_sid", StringType),
    StructField("sr_adjacency_sids", StringType)))

  /** ls_prefix key fields (`LsPrefixQuery.java:53-99`). */
  val lsPrefixSchema: StructType = StructType(Seq(
    StructField("hash_id", StringType),
    StructField("peer_hash_id", StringType),
    StructField("base_attr_hash_id", StringType),
    StructField("seq", StringType),
    StructField("local_node_hash_id", StringType),
    StructField("mt_id", StringType),
    StructField("ospf_route_type", StringType),
    StructField("igp_flags", StringType),
    StructField("route_tag", StringType),
    StructField("ext_route_tag", StringType),
    StructField("ospf_fwd_addr", StringType),
    StructField("metric", StringType),
    StructField("prefix", StringType),
    StructField("prefix_len", StringType),
    StructField("isWithdrawn", StringType),
    StructField("timestamp", StringType)))

  /** Valid enum domains (`1_base.sql:28-32`) — Spark has no enum type;
    * ingest validates into StringType.
    */
  val LsProtocols = Set("IS-IS_L1", "IS-IS_L2", "OSPFv2", "OSPFv3", "Direct", "Static", "")
  val OspfRouteTypes = Set("Intra", "Inter", "Ext-1", "Ext-2", "NSSA-1", "NSSA-2", "")

  // ---- envelope parse + coercions ------------------------------------

  /** S2: parse a raw TSV `line` column into its schema's fields, all
    * strings (the topic parsers below coerce them in the same select).
    */
  def parseTsv(df: DataFrame, lineCol: String, schema: StructType): DataFrame =
    parseCoerced(df, lineCol, schema, Map.empty)

  /** S2 + S3 in two projections: `from_csv` into one struct, then ONE
    * select of the input columns, every schema field — through its
    * `coerce` function where one is named — and the `extra` columns,
    * which read the raw cells (`__p.<field>`). An input column named
    * like a field is replaced in place, as `withColumn` would; the
    * fields and extras follow. One projection analyzes once, where a
    * `withColumn` per field re-analyzed an ever deeper plan each step.
    */
  private def parseCoerced(df: DataFrame, lineCol: String, schema: StructType,
                           coerce: Map[String, Column => Column],
                           extra: Seq[(String, Column)] = Nil): DataFrame = {
    val parsed = df.withColumn("__p",
      from_csv(col(lineCol), schema, Map("sep" -> "\t", "quote" -> "")))
    def field(n: String): Column = coerce.getOrElse(n, identity[Column] _)(col(s"__p.$n")).as(n)
    val fields = schema.fieldNames
    parsed.select(
      df.columns.map(c => if (fields.contains(c)) field(c) else col(s"`$c`")) ++
        fields.filterNot(df.columns.contains).map(field) ++
        extra.map { case (n, c) => c.as(n) }: _*)
  }

  /** The epoch-micros `ts_us` of the coerced `timestamp`, appended last. */
  private def withTsUs(df: DataFrame): DataFrame =
    df.withColumn("ts_us", unix_micros(col("timestamp")))

  /** S3 coercions — the ParseNullAsEmpty / ParseLongEmptyAsZero /
    * ParseTimestamp processors as column transforms. A cell that does not
    * parse yields the fallback (0, null, or the seconds-precision
    * timestamp) under ANSI mode too: the casts and timestamp parses are
    * the `try_` forms, so one bad cell never fails a micro-batch. A
    * number out of its column's range does not parse either (an int
    * column's 99999999999 reads 0).
    */
  def nullAsEmpty(c: Column): Column = coalesce(c, lit(""))
  def longEmptyAsZero(c: Column): Column =
    coalesce(nullif(trim(c), lit("")).try_cast(LongType), lit(0L))
  /** [[longEmptyAsZero]] for an int column. */
  def intEmptyAsZero(c: Column): Column =
    coalesce(nullif(trim(c), lit("")).try_cast(IntegerType), lit(0))
  /** Numeric cell that is legitimately ABSENT (peer session fields on a
    * down message): empty → NULL, matching the reference's nullable
    * columns — where [[longEmptyAsZero]] is for counters that default 0.
    */
  def longEmptyAsNull(c: Column): Column = nullif(trim(c), lit("")).try_cast(LongType)
  def parseTs(c: Column): Column =
    coalesce(
      try_to_timestamp(c, lit(TsFormat)),
      try_to_timestamp(c, lit("yyyy-MM-dd HH:mm:ss")))
  def boolCell(c: Column): Column =
    trim(lower(c)).isin("1", "true", "t")

  /** Space-delimited numeric array (`PsqlFunctions.java:65-91`).
    * Null/empty cells → empty array (from_csv yields null for empty
    * unquoted TSV cells).
    */
  def longArray(c: Column): Column = {
    val s = trim(coalesce(c, lit("")))
    when(length(s) === 0, array().cast(ArrayType(LongType)))
      .otherwise(transform(split(s, " +"), x => x.try_cast(LongType)))
  }

  /** Space-delimited string array (community lists, `PsqlFunctions.java:154-205`). */
  def strArray(c: Column): Column = {
    val s = trim(coalesce(c, lit("")))
    when(length(s) === 0, array().cast(ArrayType(StringType)))
      .otherwise(split(s, " +"))
  }

  private def enumCell(domain: Set[String]): Column => Column =
    c => when(c.isin(domain.toSeq: _*), c).otherwise(lit(""))

  /** Typed unicast_prefix records from raw TSV lines: applies the
    * coercions and the reference's `prefix_len > 128` drop
    * (`UnicastPrefixQuery.java:50-51`), plus epoch-micros `ts_us` for
    * the numeric time path.
    */
  def unicastPrefixFromTsv(raw: DataFrame, lineCol: String = "line"): DataFrame =
    withTsUs(parseCoerced(raw, lineCol, unicastPrefixSchema, Map(
      "isIPv4" -> boolCell _,
      "origin_as" -> longEmptyAsZero _,
      "prefix_len" -> intEmptyAsZero _,
      "timestamp" -> parseTs _,
      "isWithdrawn" -> boolCell _,
      "path_id" -> longEmptyAsZero _,
      "labels" -> nullAsEmpty _,
      "isPrePolicy" -> boolCell _,
      "isAdjRibIn" -> boolCell _)))
      .filter(col("prefix_len") <= 128)

  def baseAttributeFromTsv(raw: DataFrame, lineCol: String = "line"): DataFrame =
    withTsUs(parseCoerced(raw, lineCol, baseAttributeSchema, Map(
      "as_path" -> longArray _,
      "origin_as" -> longEmptyAsZero _,
      "med" -> longEmptyAsZero _,
      "local_pref" -> longEmptyAsZero _,
      "isAtomicAgg" -> boolCell _,
      "community_list" -> strArray _,
      "ext_community_list" -> strArray _,
      "large_community_list" -> strArray _,
      "cluster_list" -> strArray _,
      "as_path_count" -> intEmptyAsZero _,
      "nexthop_isIPv4" -> boolCell _,
      "timestamp" -> parseTs _)))

  def peerFromTsv(raw: DataFrame, lineCol: String = "line"): DataFrame =
    withTsUs(parseCoerced(raw, lineCol, peerSchema, Map(
      "isIPv4" -> boolCell _,
      "peer_as" -> longEmptyAsZero _,
      "isL3VPNpeer" -> boolCell _,
      "timestamp" -> parseTs _,
      "isPrePolicy" -> boolCell _,
      // numeric session/error fields (nullable in the reference schema,
      // 1_base.sql:181-196): empty → NULL long, not 0 — a down message
      // carries no session and peerEventLog must emit NULLs for it
      "local_port" -> longEmptyAsNull _,
      "local_hold_time" -> longEmptyAsNull _,
      "local_asn" -> longEmptyAsNull _,
      "remote_port" -> longEmptyAsNull _,
      "remote_hold_time" -> longEmptyAsNull _,
      "bgp_err_code" -> longEmptyAsNull _,
      "bgp_err_subcode" -> longEmptyAsNull _,
      "isLocRib" -> boolCell _,
      "isLocRibFiltered" -> boolCell _),
      // action first/up → state 'up' else 'down' (PeerQuery.java:59-64)
      Seq("state" -> when(col("__p.action").isin("first", "up"), lit("up")).otherwise(lit("down")))))

  def routerFromTsv(raw: DataFrame, lineCol: String = "line"): DataFrame =
    withTsUs(parseCoerced(raw, lineCol, routerSchema, Map("timestamp" -> parseTs _),
      // action term → 'down' else 'up' (RouterQuery.java:55)
      Seq("state" -> when(col("__p.action") === "term", lit("down")).otherwise(lit("up")))))

  def collectorFromTsv(raw: DataFrame, lineCol: String = "line"): DataFrame =
    withTsUs(parseCoerced(raw, lineCol, collectorSchema,
      Map("router_count" -> intEmptyAsZero _, "timestamp" -> parseTs _),
      // action stopped → 'down' (CollectorQuery.java:33-52)
      Seq("state" -> when(col("__p.action") === "stopped", lit("down")).otherwise(lit("up")))))

  def l3vpnFromTsv(raw: DataFrame, lineCol: String = "line"): DataFrame =
    withTsUs(parseCoerced(raw, lineCol, l3vpnSchema, Map(
      "isIPv4" -> boolCell _,
      "origin_as" -> longEmptyAsZero _,
      "prefix_len" -> intEmptyAsZero _,
      "timestamp" -> parseTs _,
      "isWithdrawn" -> boolCell _,
      "path_id" -> longEmptyAsZero _,
      "isPrePolicy" -> boolCell _,
      "isAdjRibIn" -> boolCell _,
      "rd" -> nullAsEmpty _,
      "ext_community_list" -> strArray _)))
      .filter(col("prefix_len") <= 128)

  /** Coercions every link-state topic shares. */
  private val lsCommon: Map[String, Column => Column] = Map(
    "seq" -> longEmptyAsZero _,
    "isWithdrawn" -> boolCell _,
    "timestamp" -> parseTs _)

  def lsNodeFromTsv(raw: DataFrame, lineCol: String = "line"): DataFrame =
    withTsUs(parseCoerced(raw, lineCol, lsNodeSchema, lsCommon ++ Map(
      "asn" -> longEmptyAsZero _,
      // enum validation (1_base.sql:28-32): unknown → ''
      "protocol" -> enumCell(LsProtocols))))

  // links and prefixes carry no protocol cell: '' (the enum's empty member)
  def lsLinkFromTsv(raw: DataFrame, lineCol: String = "line"): DataFrame =
    withTsUs(parseCoerced(raw, lineCol, lsLinkSchema, lsCommon ++ Map(
      "igp_metric" -> longEmptyAsZero _,
      "local_asn" -> longEmptyAsZero _,
      "remote_asn" -> longEmptyAsZero _),
      Seq("protocol" -> lit(""))))

  def lsPrefixFromTsv(raw: DataFrame, lineCol: String = "line"): DataFrame =
    withTsUs(parseCoerced(raw, lineCol, lsPrefixSchema, lsCommon ++ Map(
      "prefix_len" -> intEmptyAsZero _,
      "metric" -> longEmptyAsZero _,
      "ospf_route_type" -> enumCell(OspfRouteTypes)),
      Seq("protocol" -> lit(""))))

  def bmpStatFromTsv(raw: DataFrame, lineCol: String = "line"): DataFrame =
    withTsUs(parseCoerced(raw, lineCol, bmpStatSchema,
      bmpStatSchema.fieldNames.filterNot(Set("peer_hash_id", "timestamp"))
        .map(_ -> (longEmptyAsZero _)).toMap + ("timestamp" -> parseTs _)))
}
