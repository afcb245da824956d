package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.model.Messages
import graft.operators.{MergeOps, StateTables}
import graft.views.BmpViews

/** The production entrypoint: ONE deployable streaming app wiring the
  * full reference topology (`ConsumerApp.java:83-111` +
  * `ConsumerRunnable.java:374-546`) Spark-first.
  *
  * One multiplexed source (Kafka `subscribePattern` over the ten
  * `openbmp.parsed.*` topics, or the file-source fallback) feeds ONE
  * streaming query whose `foreachBatch` demuxes by topic and merges
  * every table. The reference's per-record priority order
  * (`ConsumerRunnable.java:390-546`: collector → router → peer →
  * base_attribute → unicast_prefix → l3vpn → bmp_stat → ls_node →
  * ls_link → ls_prefix) is kept wherever one table reads another's
  * fresh state. A single query instead of ten buys exactly what the
  * reference gets from one consumer loop + one database:
  *
  *  - cascades see fresh upstream state (a router-up in batch N downs
  *    peers in batch N, not N+1 — T6–T9 inline, like the triggers);
  *  - ONE commit point per micro-batch: every state table is staged
  *    then published by a single [[ConsistentState]] manifest swap, so
  *    `v_ip_routes` can never join rib@N against peers@N−1 (the MVCC
  *    parity the per-table queries give up);
  *  - one writer thread per table per batch, one commit: Structured
  *    Streaming serializes `foreachBatch`, and inside a batch the
  *    independent table pipelines (collectors, routers → bgp_peers,
  *    peer_events, base_attrs, and each rib-scale, stat and link-state
  *    table) run on their own threads, joined before the commit.
  *
  * Every table is a set of key-hash buckets merged by
  * [[StateTables.mergeChangedBuckets]]. The inventory tables have one
  * bucket, rewritten whole each batch. The five RIB-scale tables have
  * [[Conf.ribBuckets]]: 1 by default (write amplification O(state) per
  * batch — the reference-scale setting), or `n` for the 100 TB regime,
  * where a batch rewrites only the buckets its updates and T9 purges
  * touch (write ∝ update spread). Either way the batch commits through
  * the one manifest.
  *
  * The reference's staged topic subscribe (`ConsumerRunnable.java:
  * 1054-1084` — inventory topics first, so prefixes never arrive before
  * their peers) maps to bootstrap-then-stream: [[bootstrap]] replays
  * inventory fixtures as a batch before [[start]] opens the stream; the
  * in-batch priority order covers the steady state.
  */
object GraftApp {

  val TopicPrefix = "openbmp.parsed."

  /** The ten parsed-message topics, in the reference's processing
    * priority order (`ConsumerRunnable.java:390-546`).
    */
  val Topics: Seq[String] = Seq(
    "collector", "router", "peer", "base_attribute", "unicast_prefix",
    "l3vpn", "bmp_stat", "ls_node", "ls_link", "ls_prefix")

  /** Deployment knobs. `root` holds every table, log, and checkpoint:
    * {{{
    *   <root>/<table>/v<N>, <root>/_CURRENT      table versions + the manifest
    *                                             (see ConsistentState)
    *   <root>/<table>_log/batch=<id>             CDC / append logs
    *   <root>/_checkpoint                        the ONE query's offsets
    * }}}
    */
  final case class Conf(
      root: String,
      triggerMs: Long = 300, // reference batch_time_millis (Config.java:70)
      ribBuckets: Int = 1, // key-hash buckets per RIB-scale table; n > 1 → 100 TB rib regime
      keepVersions: Int = 2,
      registerViews: Boolean = true,
      maintenanceEvery: Int = 0, // micro-batches between maintenance passes (0 = off)
      retentionUs: Option[Long] = None,
      corpusDir: Option[String] = None) { // LLM-corpus parquet dir → curation views
    // a count below 1 commits a 1-bucket table whose recorded count then
    // fails every later merge
    require(ribBuckets >= 1, s"ribBuckets (env GRAFT_NUM_BUCKETS) must be >= 1, got $ribBuckets")
  }

  /** The RIB-scale tables (`Conf.ribBuckets` buckets, each with a
    * `<table>_log` CDC log) and the 1-bucket inventory tables.
    */
  private val RibTables = Seq("ip_rib", "l3vpn_rib", "ls_nodes", "ls_links", "ls_prefixes")
  private val Inventory = Seq("collectors", "routers", "bgp_peers", "base_attrs")

  // ---- sources ---------------------------------------------------------

  /** Kafka production source: all ten topics through one subscription. */
  def kafkaSource(spark: SparkSession, brokers: String): DataFrame =
    Ingest.kafkaSource(spark, brokers,
      Topics.map(t => java.util.regex.Pattern.quote(TopicPrefix + t)).mkString("|"))

  /** File-source fallback (no broker): TSV files dropped under
    * `<dir>/topic=<full.topic.name>/` stream through the identical
    * decode seam — (topic, msg_key, line, kafka_ts) — as the Kafka path.
    */
  def fileSource(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .option("recursiveFileLookup", "true")
      .text(dir)
      .select(
        regexp_extract(input_file_name(), "topic=([^/]+)/", 1).as("topic"),
        lit(null).cast("string").as("msg_key"),
        col("value").as("line"),
        lit(null).cast("timestamp").as("kafka_ts"))

  /** Per-topic TSV parse dispatch (S2/S3) — the `Query.parse()` switch
    * of `ConsumerRunnable.java:390-546` as data.
    */
  def parse(topic: String, lines: DataFrame): DataFrame = topic match {
    case "collector"      => Messages.collectorFromTsv(lines)
    case "router"         => Messages.routerFromTsv(lines)
    case "peer"           => Messages.peerFromTsv(lines)
    case "base_attribute" => Messages.baseAttributeFromTsv(lines)
    case "unicast_prefix" => Messages.unicastPrefixFromTsv(lines)
    case "l3vpn"          => Messages.l3vpnFromTsv(lines)
    case "bmp_stat"       => Messages.bmpStatFromTsv(lines)
    case "ls_node"        => Messages.lsNodeFromTsv(lines)
    case "ls_link"        => Messages.lsLinkFromTsv(lines)
    case "ls_prefix"      => Messages.lsPrefixFromTsv(lines)
    case other            => sys.error(s"unknown topic suffix: $other")
  }

  // ---- the micro-batch -------------------------------------------------

  /** One micro-batch through the whole topology. Public seam: the e2e
    * spec drives THIS (via the started stream), and a batch backfill can
    * call it directly with batchId-disjoint ids.
    */
  def processBatch(batch0: DataFrame, batchId: Long, conf: Conf): Unit = {
    val spark = batch0.sparkSession
    // the batch is demuxed ten ways below — one source compute, not ten
    val batch = batch0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // fill the cache in one job before the pipelines start: concurrent
      // first readers would each run their own caching job
      batch.queryExecution.toRdd.count()
      def lines(t: String): DataFrame =
        batch.filter(col("topic") === TopicPrefix + t).select(col("line"))
      val root = conf.root
      val txn  = ConsistentState.begin(spark, root)

      def cur(table: String, like: DataFrame): DataFrame =
        txn.current(table).getOrElse(like.limit(0))

      // the parsed frames several pipelines read; each pipeline
      // re-parses them from the persisted batch
      val collectors = parse("collector", lines("collector"))
      val peers = parse("peer", lines("peer"))
      // T9: peers that came up in this batch purge their stale rib rows
      val peerUps = peers.filter(col("state") === "up" && col("ts_us").isNotNull)
        .select(col("hash_id"), col("ts_us"))

      def mergeRib(table: String, parsed: DataFrame, policy: MergeOps.MergePolicy,
                   purge: Boolean): Unit =
        GraftApp.mergeRib(txn, conf, batchId, table, parsed, policy,
          if (purge) Some(peerUps) else None)

      // -- the independent pipelines, run concurrently -----------------
      // Each writes its own tables and logs; the reference's per-record
      // priority order survives as the order inside a pipeline.
      runPipelines(batchId, Seq(
        // M5 collectors: latest-wins overwrite
        "collectors" -> (() => txn.stage("collectors",
          Ingest.overwriteMerge(cur("collectors", collectors), collectors,
            Seq("hash_id"), Seq("ts_us")))),
        "routers" -> { () =>
          // M4 routers: overwrite merge, then T8 — a collector transition
          // in THIS batch downs routers whose state predates it
          val routers = parse("router", lines("router"))
          val routersNext = txn.stage("routers",
            Ingest.collectorCascade(
              Ingest.overwriteMerge(cur("routers", routers), routers,
                Seq("hash_id"), Seq("ts_us")),
              collectors))
          // M3 peers: T6 default naming against the POST-merge routers
          // (the BEFORE INSERT trigger reads the routers table), T7
          // router-up cascade downs EXISTING peer state, then latest-wins
          // overwrite.
          txn.stage("bgp_peers",
            Ingest.overwriteMerge(
              Ingest.routerUpCascade(cur("bgp_peers", peers), routers),
              Ingest.inheritPeerDefaults(peers, routersNext),
              Seq("hash_id"), Seq("ts_us")))
        },
        // T4: every peer message appends an event row
        "peer_events" -> (() => StateTables.writeCdcBatch(spark,
          Ingest.peerEventLog(peers), s"$root/peer_events", Some(batchId))),
        "base_attrs" -> { () =>
          // M2 base_attrs: content-addressed DO NOTHING (hash_id PK,
          // 1_base.sql:286)
          val attrs = parse("base_attribute", lines("base_attribute"))
          txn.stage("base_attrs",
            MergeOps.insertIgnore(cur("base_attrs", attrs), attrs,
              Seq("hash_id"), Seq("ts_us", "peer_hash_id")))
        },
        "ip_rib" -> (() => mergeRib("ip_rib",
          parse("unicast_prefix", lines("unicast_prefix")), Ingest.ipRibPolicy, purge = true)),
        "l3vpn_rib" -> (() => mergeRib("l3vpn_rib", parse("l3vpn", lines("l3vpn")),
          Ingest.l3vpnRibPolicy, purge = true)),
        // M10 stat_reports: append-only, batch-keyed (idempotent replay)
        "stat_reports" -> (() => StateTables.writeCdcBatch(spark,
          parse("bmp_stat", lines("bmp_stat")), s"$root/stat_reports", Some(batchId))),
        "ls_nodes" -> (() => mergeRib("ls_nodes", parse("ls_node", lines("ls_node")),
          Ingest.lsNodePolicy, purge = false)),
        "ls_links" -> (() => mergeRib("ls_links", parse("ls_link", lines("ls_link")),
          Ingest.lsLinkPolicy, purge = false)),
        "ls_prefixes" -> (() => mergeRib("ls_prefixes", parse("ls_prefix", lines("ls_prefix")),
          Ingest.lsPrefixPolicy, purge = false))))

      // -- the ONE commit point ----------------------------------------
      txn.commit(conf.keepVersions)

      // housekeeping, serialized inside the batch after its commit so it
      // never races the batch's txn (see Ingest.maintain)
      if (conf.maintenanceEvery > 0 && batchId > 0 && batchId % conf.maintenanceEvery == 0) {
        val housekeeping = ConsistentState.begin(spark, root)
        val compacted = RibTables.flatMap { t =>
          Ingest.maintain(housekeeping, t, s"$root/${t}_log", s"$root/${t}_log_compacted",
            retentionCutoffUs =
              conf.retentionUs.map(r => System.currentTimeMillis() * 1000L - r))._4
        }
        if (compacted.nonEmpty) housekeeping.commit(conf.keepVersions)
      }
    } finally { batch.unpersist(); () }
  }

  /** Name prefix of the threads [[processBatch]] runs its pipelines on. */
  private[graft] val BatchThreadPrefix = "graft-batch-"

  /** Runs each named pipeline of one micro-batch on its own thread and
    * returns only once every thread has exited; then it rethrows the
    * stream thread's interrupt (query stop) or the first pipeline
    * failure. The caller therefore never commits, or gives up, while a
    * pipeline is still writing a `v<N>` directory.
    *
    * The threads are created per batch: each inherits the calling
    * thread's Spark local properties (job group, batch id), so query
    * stop cancels their jobs. A long-lived pool would keep the first
    * batch's properties.
    */
  private def runPipelines(batchId: Long, pipelines: Seq[(String, () => Unit)]): Unit = {
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = pipelines.map { case (name, body) =>
      val t = new Thread(() => try body() catch { case e: Throwable => failures.add(e); () },
        s"$BatchThreadPrefix$batchId-$name")
      t.setDaemon(true)
      t.start()
      t
    }
    var stopped: Option[InterruptedException] = None
    threads.foreach { t =>
      while (t.isAlive)
        try t.join()
        catch {
          case e: InterruptedException =>
            // query stop also cancels the job group; interrupt the
            // pipelines' driver-side waits, then keep joining
            if (stopped.isEmpty) { stopped = Some(e); threads.foreach(_.interrupt()) }
        }
    }
    stopped.foreach(e => throw e)
    Option(failures.peek()).foreach(e => throw e)
  }

  /** One RIB-scale table's part of batch `batchId`: merge `parsed`
    * into `table` in `conf.ribBuckets` buckets inside `txn`, with the T9
    * purge of `peerUps` (`hash_id`, `ts_us` of peers that came up) and
    * the batch's CDC rows in `<root>/<table>_log`. The caller commits.
    */
  private[graft] def mergeRib(txn: ConsistentState.Txn, conf: Conf, batchId: Long,
                              table: String, parsed: DataFrame,
                              policy: MergeOps.MergePolicy, peerUps: Option[DataFrame]): Unit = {
    StateTables.mergeChangedBuckets(txn, table,
      parsed.repartition(policy.keys.map(col): _*), policy, conf.ribBuckets,
      logPath = Some(s"${conf.root}/${table}_log"), batchId = Some(batchId), peerUps = peerUps)
    ()
  }

  /** (Re-)register the full SQL surface over one consistent snapshot:
    * every reader sees all tables at the SAME manifest version. Called
    * after each commit; callable any time (e.g. from a separate SQL
    * session sharing the metastore-less session).
    *
    * Consistency granularity: each registered VIEW is internally
    * consistent (all of its joins bind to the one manifest this pass
    * resolved), matching the reference's per-statement snapshot under
    * READ COMMITTED. A query joining two *views* planned while a
    * re-registration pass is mid-flight can bind them one manifest
    * apart — the same cross-statement behavior Postgres READ COMMITTED
    * gives; use [[ConsistentState.readConsistent]] directly for a
    * multi-table repeatable-read.
    */
  def registerViews(spark: SparkSession, conf: Conf): Unit = {
    conf.corpusDir.foreach(registerCorpus(spark, _))
    val snap = ConsistentState.readConsistent(spark, conf.root, Inventory ++ RibTables)
    // CDC/append logs read with their recorded schemas, enrichment
    // tables with the session's cached one: no read infers a schema
    def log(name: String): Option[DataFrame] = {
      val p = new org.apache.hadoop.fs.Path(s"${conf.root}/$name")
      if (p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p))
        Some(StateTables.readLog(spark, p.toString)) else None
    }

    (snap.get("ip_rib"), snap.get("bgp_peers"), snap.get("base_attrs"), snap.get("routers")) match {
      case (Some(rib), Some(peers), Some(attrs), Some(routers)) =>
        // info_asn is cron-fed (Enrichment.loadInfoAsn); an empty frame
        // keeps v_peers total until the operator loads one
        val infoAsn = snap.getOrElse("info_asn",
          spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("asn",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("as_name",
                org.apache.spark.sql.types.StringType)))))
        BmpViews.registerAll(rib, peers, attrs, routers, infoAsn, log("ip_rib_log"))
        // cron-fed enrichment surface (reference cron_scripts/*): the
        // loaders in sources/Enrichment write these tables under <root>;
        // register whatever is present so the SQL surface matches the
        // reference's — incl. v_ip_routes_geo (8_views.sql:76) when a
        // geo table exists (strategy pick from plan stats, no count job)
        log("geo_ip").foreach { geo =>
          geo.createOrReplaceTempView("geo_ip")
          BmpViews.vIpRoutesGeo(BmpViews.vIpRoutes(rib, peers, attrs, routers), geo)
            .createOrReplaceTempView("v_ip_routes_geo")
        }
        Seq("rpki_validator", "pdb_exchange_peers", "info_route")
          .foreach(t => log(t).foreach(_.createOrReplaceTempView(t)))
        snap.get("l3vpn_rib").foreach(l3 =>
          BmpViews.registerL3vpn(l3, peers, attrs, routers, log("l3vpn_rib_log")))
        (snap.get("ls_nodes"), snap.get("ls_links"), snap.get("ls_prefixes")) match {
          case (Some(n), Some(l), Some(p)) =>
            BmpViews.registerLinkState(n, l, p, peers, routers)
          case _ => ()
        }
        snap.get("collectors").foreach(_.createOrReplaceTempView("collectors"))
        log("peer_events").foreach(_.createOrReplaceTempView("peer_events"))
        log("stat_reports").foreach(_.createOrReplaceTempView("stat_reports"))
      case _ => () // pre-bootstrap: nothing to register yet
    }
  }

  /** The LLM-corpus surface, registered the same way the BMP surface
    * is: base tables plus curation VIEWS (lazy plans — computed when
    * queried, always over the parquet currently at `dir`, so a corpus
    * refresh between batches is picked up on the next registration
    * pass). Tables absent from the dir are skipped; everything else the
    * curation operators offer (dedup, ANN, packing, BPE) builds on
    * these same registered tables via the operator API.
    */
  def registerCorpus(spark: SparkSession, dir: String): Unit = {
    import graft.functions.TextFns
    import graft.operators.{Curation, TimeAgg}
    // corpus event tables carry parquet INT64-nanos timestamps; without
    // this (runtime-settable) SQL conf the schema conversion throws on
    // sessions that didn't opt in at build time (e.g. GraftApp.main's)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val stop = Seq("the", "a", "of", "and", "to", "in", "is")
    def read(name: String): Option[DataFrame] = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
      if (p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p))
        Some(graft.sources.SchemaCatalog.read(spark, p.toString)) else None
    }
    read("documents").foreach { docs =>
      docs.createOrReplaceTempView("documents")
      // rule-based per-doc quality signals — scan-stage, no shuffle
      docs.select(col("doc_id"),
        TextFns.tokenCount(col("text")).as("n_tokens"),
        TextFns.qualityScore(col("text"), stop).as("quality"),
        TextFns.langId(col("text")).as("lang_pred"),
        TextFns.fingerprint(col("text")).as("fingerprint"))
        .createOrReplaceTempView("v_doc_quality")
      // Gopher repetition gates — one explode + two hash aggregates
      Curation.repetitionSignals(docs, "doc_id", "text")
        .createOrReplaceTempView("v_doc_repetition")
      // C4 badword verdicts — scan-stage, zero shuffle (list is a
      // deployment-config placeholder; the real list is ~400 words)
      Curation.blocklistFilter(docs, "doc_id", "text",
        Seq("slow", "stale", "dup"))
        .createOrReplaceTempView("v_doc_blocklist")
      // RefinedWeb domain-level verdicts — one hash aggregate per query
      Curation.sourceQualityStats(docs, "text", "source", stop,
        minMeanQuality = 0.4, maxDupRatio = 0.1)
        .createOrReplaceTempView("v_source_quality")
      // Gopher token-shape rule verdicts — scan-stage, zero shuffle
      Curation.gopherRules(docs, "doc_id", "text", stop)
        .createOrReplaceTempView("v_doc_gopher")
      // CCNet head/middle/tail LM buckets — lazy: the LM fit + cutoff
      // aggregate run when the view is queried, not at registration
      Curation.perplexityBuckets(docs,
        Curation.fitUnigramLm(docs, "text"), "doc_id", "text")
        .createOrReplaceTempView("v_doc_lm_buckets")
      // order-1 LM scores (q104's operator) — lazy like the buckets
      Curation.bigramScore(docs,
        Curation.fitBigramLm(docs, "text"), "doc_id", "text")
        .createOrReplaceTempView("v_doc_bigram_lp")
      // DSIR importance weights vs the first source in the corpus — a
      // deployment-config placeholder target domain
      Curation.importanceWeights(docs, "doc_id", "text", "source", "src0")
        .createOrReplaceTempView("v_doc_dsir")
      // curriculum quality quartiles (q112's operator) — lazy; the
      // driver collect of coarse-bucket counts runs on first query
      Curation.curriculumBins(docs, "doc_id", "text", stop, nBins = 4)
        .createOrReplaceTempView("v_doc_curriculum")
      // exact per-source token-count percentiles (q117) — lazy two-pass
      graft.operators.Quantiles.exactQuantiles(
        docs.select(col("source"), TextFns.tokenCount(col("text")).as("v")),
        "source", "v", bucketWidth = 8L,
        Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)))
        .createOrReplaceTempView("v_source_token_quantiles")
      // term-frequency CMS counters + per-source HLL distinct estimates
      // (q114/q115) — bounded outputs a monitoring pipeline samples
      val occ = docs.select(col("source"),
        explode(TextFns.tokens(col("text"))).as("term"))
        .filter(length(col("term")) > 0)
      graft.operators.Sketches.cmsCounters(occ, "term", width = 64, depth = 4)
        .createOrReplaceTempView("v_term_cms")
      graft.operators.Sketches.hllEstimate(
        graft.operators.Sketches.hllRegisters(occ, "term", "source", m = 64),
        "source", m = 64)
        .createOrReplaceTempView("v_source_hll")
      // round-8 session-3 surface ------------------------------------
      // per-source Heaps/Zipf vocabulary health (q124) — one
      // vocabulary-bounded aggregate
      Curation.vocabStats(docs, "text", "source")
        .createOrReplaceTempView("v_source_vocab")
      // rendezvous shard ownership (q122) — pure projection; the
      // 8-shard set is a deployment-config placeholder
      graft.operators.Packing.rendezvousAssign(
        docs.select(col("doc_id")), "doc_id", (0 until 8).map(i => s"n$i"))
        .createOrReplaceTempView("v_doc_shard")
      // deterministic epoch order (q119): the one EAGER registration —
      // the Feistel domain needs n at plan-build; parquet row-count
      // metadata makes this count cheap, and seed 0 is the
      // deployment-config epoch number
      val nDocs = docs.count()
      if (nDocs > 0)
        graft.operators.Packing.feistelShuffle(
          docs.select(col("doc_id")), "doc_id", nDocs, seed = 0)
          .createOrReplaceTempView("v_doc_shuffle")
      // winnowing fingerprints (q120) — the substring-match sketch a
      // plagiarism/overlap monitor queries; per-doc bounded
      graft.operators.Dedup.winnowFingerprints(docs, "doc_id", "text",
        gramSize = 3, window = 4)
        .createOrReplaceTempView("v_doc_winnow")
      // span decontamination masks (q118) vs a placeholder benchmark
      // slice (deployment passes the real eval-suite table)
      graft.operators.Dedup.contaminatedSpans(
        docs.filter(col("doc_id") >= 25), docs.filter(col("doc_id") < 25),
        "doc_id", "text", gramSize = 4)
        .createOrReplaceTempView("v_doc_contam_spans")
      // round-8 session-4 surface ------------------------------------
      // readability metrics (q136) — scan-stage regex passes
      docs.select(col("doc_id"),
        TextFns.tokenCount(col("text")).cast("long").as("words"),
        TextFns.sentenceCount(col("text")).as("sentences"),
        TextFns.syllableProxy(col("text")).as("syllables"),
        TextFns.fleschScore(col("text")).as("flesch"))
        .createOrReplaceTempView("v_doc_readability")
      // per-source z-scored length (q141) — tiny-agg broadcast back
      Curation.sourceZScores(docs, "doc_id", "text", "source")
        .createOrReplaceTempView("v_doc_zscore")
      // grouping-sets corpus profile (q139)
      docs.rollup(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextFns.tokenCount(col("text")).cast("long")).as("n_tokens"))
        .createOrReplaceTempView("v_corpus_rollup")
      // windowed PMI association table (q140) — pair-bounded aggregate
      Curation.pmiPairs(docs, "doc_id", "text", window = 2, minCount = 5L)
        .createOrReplaceTempView("v_term_pmi")
      // within-source rank normalization (q145) — lazy coarse-count pass
      graft.operators.Quantiles.exactRanks(
        docs.select(col("doc_id"), col("source"),
          TextFns.tokenCount(col("text")).cast("long").as("n_tok")),
        "source", "n_tok", bucketWidth = 8L, tieCols = Seq("doc_id"))
        .createOrReplaceTempView("v_doc_rank_norm")
      // per-source distinctive terms (q146)
      Curation.keyness(docs, "text", "source", minCount = 5L, k = 10)
        .createOrReplaceTempView("v_source_keyness")
      // deterministic MLM masking plan (q147) — scan-stage
      Curation.mlmMaskPlan(docs, "doc_id", "text")
        .createOrReplaceTempView("v_doc_mlm_mask")
      // tokenizer-sizing OOV audit (q148), burstiness diagnostic
      // (q149 — nDocs from parquet metadata count), health card (q150)
      Curation.vocabCoverage(docs, "text", "source", vocabSize = 1000)
        .createOrReplaceTempView("v_vocab_coverage")
      if (nDocs > 0) // nDocs: the feistel registration's metadata count
        Curation.burstiness(docs, "doc_id", "text", nDocs, minDf = 5L,
          k = 50)
          .createOrReplaceTempView("v_term_burstiness")
      Curation.corpusHealthCard(docs, "doc_id", "text", "source",
        vocabSize = 1000)
        .createOrReplaceTempView("v_corpus_health")
      // batch-6 surface: code-switch signals (q152), preference pairs
      // (q153), span-corruption plan (q154), quality-AUC audit (q155),
      // exact heavy hitters (q151 — eager: the MG pass counts the
      // stream at build, like the Feistel registration)
      Curation.codeSwitchSignals(docs, "doc_id", "text")
        .createOrReplaceTempView("v_doc_code_switch")
      Curation.preferencePairs(docs, "doc_id", "text", "source")
        .createOrReplaceTempView("v_preference_pairs")
      Curation.spanCorruptPlan(docs, "doc_id", "text")
        .createOrReplaceTempView("v_doc_span_corrupt")
      graft.operators.Eval.aucExact(
        docs.select(floor(lit(1000000.0) * TextFns.qualityScore(
          col("text"), stop)).cast("long").as("s_q"), col("lang")),
        "s_q", col("lang") === "en")
        .createOrReplaceTempView("v_quality_auc")
      if (nDocs > 0)
        graft.operators.Sketches.heavyHitters(
          docs.select(explode(TextFns.tokens(col("text"))).as("term"))
            .filter(length(col("term")) > 0), "term", den = 100)
          .createOrReplaceTempView("v_term_heavy")
      // quality-score calibration deciles + ECE (q161) and the langId
      // classification report vs stored labels (q162)
      graft.operators.Eval.calibration(
        docs.select(floor(lit(1000000.0) * TextFns.qualityScore(
          col("text"), stop)).cast("long").as("s_q"), col("lang")),
        "s_q", col("lang") === "en")
        .createOrReplaceTempView("v_quality_ece")
      graft.operators.Eval.classReport(
        docs.select(col("lang"), TextFns.langId(col("text")).as("pred"))
          .filter(col("pred").isNotNull), "lang", "pred")
        .createOrReplaceTempView("v_lang_report")
      // round-8 session-9 surface ------------------------------------
      // RAKE keywords per source (q246), per-source Welch t on length
      // (q242), source×lang association strength (q243), paired
      // classifier comparison (q244) and score-targeting lift (q245)
      graft.operators.Segments.rakeKeywords(docs, "source", "doc_id",
        "text", stop, maxPhraseLen = 4, topK = 10)
        .createOrReplaceTempView("v_term_rake")
      graft.operators.Stats.welchT(docs, "source", "n_chars")
        .createOrReplaceTempView("v_source_welch")
      graft.operators.Stats.cramersV(docs, "source", "lang")
        .createOrReplaceTempView("v_assoc_cramers")
      val enCnt = size(filter(split(lower(trim(col("text"))), "\\s+"),
        x => x.isin(stop.map(lit): _*)))
      graft.operators.Eval.mcnemar(
        docs.filter(col("lang").isNotNull && col("text").isNotNull),
        TextFns.langId(col("text")) === lit("en"), enCnt >= 3,
        col("lang") === lit("en"))
        .createOrReplaceTempView("v_langid_mcnemar")
      graft.operators.Eval.liftTable(
        docs.filter(col("text").isNotNull && col("lang").isNotNull)
          .select(col("doc_id"), enCnt.cast("long").as("score"),
            col("lang")),
        "score", col("lang") === lit("en"), bins = 10,
        tieCols = Seq("doc_id"))
        .createOrReplaceTempView("v_quality_lift")
    }
    read("embeddings").foreach { emb =>
      emb.createOrReplaceTempView("embeddings")
      // label balance weights (q137) and per-dimension stats (q134)
      graft.operators.Curation.classWeights(emb, "label")
        .createOrReplaceTempView("v_class_weights")
      graft.operators.Similarity.dimStats(emb, "embedding")
        .createOrReplaceTempView("v_dim_stats")
      // label-match retrieval quality over the quarter-sample audit
      // (q160's ranked frame) — lazy; the exact knn runs on query
      val knn = graft.operators.Similarity.cosineTopK(
        emb.filter(col("vec_id") % 4 === 0), emb, "vec_id", "embedding",
        k = 5)
      val ranked = knn
        .join(broadcast(emb.select(col("vec_id").as("query_id"),
          col("label").as("__ql"))), Seq("query_id"))
        .join(broadcast(emb.select(col("vec_id").as("neighbor_id"),
          col("label").as("__nl"))), Seq("neighbor_id"))
        .select(col("query_id"), col("rank"),
          (col("__nl") === col("__ql")).as("rel"))
      graft.operators.Eval.ndcgAtK(ranked, k = 5)
        .createOrReplaceTempView("v_knn_ndcg")
      // predicted links over the mutual-kNN graph (q241). NOT lazy:
      // mutualEdges' Mat.mat checkpoint runs the full self-kNN's stages
      // (6 jobs) while this view is built, on every registration
      graft.operators.Graph.adamicAdar(graft.operators.Graph.mutualEdges(
        graft.operators.Similarity.cosineTopK(emb, emb, "vec_id",
          "embedding", k = 5)
          .select(col("query_id"), col("neighbor_id"))), topK = 30)
        .createOrReplaceTempView("v_link_predictions")
    }
    read("events").foreach { ev0 =>
      // expose exact epoch-micros; schema-adaptive (the generator has
      // shipped both INT64-nano and TIMESTAMP-micro `ts`)
      val ev = if (ev0.columns.contains("ts_us")) ev0
        else ev0.withColumn("ts_us", TimeAgg.epochMicros(ev0))
      ev.createOrReplaceTempView("events")
      TimeAgg.sessionize(ev, Seq("user_id"), "ts_us",
        gapMicros = 30000000000L, tieBreak = Seq("event_id"))
        .groupBy(col("user_id"), col("session_idx"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts_us")).as("start_us"), max(col("ts_us")).as("end_us"))
        .createOrReplaceTempView("v_sessions")
      // purged chronological split (q135) — lazy; the exact-quantile
      // coarse-count collect runs on first query. 6 h embargo is a
      // deployment-config placeholder
      Curation.timeSplit(ev, "ts_us", num = 4, den = 5,
        embargoMicros = 21600000000L)
        .createOrReplaceTempView("v_event_split")
      // event analytics: per-minute anomaly z (q156), the
      // view→click→purchase funnel (q157), daily retention (q158)
      TimeAgg.rateAnomaly(ev, "event_type", "ts_us", bucketSec = 60L,
        window = 30)
        .createOrReplaceTempView("v_rate_anomaly")
      TimeAgg.funnel(ev, "user_id", "ts_us", "event_type",
        Seq("view", "click", "purchase"), horizonMicros = 86400000000L)
        .createOrReplaceTempView("v_funnel")
      TimeAgg.cohortRetention(ev, "user_id", "ts_us", bucketSec = 86400L)
        .createOrReplaceTempView("v_cohort_retention")
      TimeAgg.markovTransitions(ev, "user_id", "ts_us", "event_type",
        "event_id")
        .createOrReplaceTempView("v_markov_transitions")
      // per-user feature rows (q143) — one window pass + one aggregate
      TimeAgg.userActivityFeatures(ev, "user_id", "ts_us", "event_type",
        "value", gapMicros = 1800000000L, tieBreak = Seq("event_id"))
        .createOrReplaceTempView("v_user_features")
      // winsorized values (q142) — lazy; the quantile coarse-count
      // collect runs on first query
      graft.operators.Quantiles.winsorize(
        ev.select(col("event_id"), col("event_type"),
          floor(col("value") * lit(100.0)).cast("long").as("vq")),
        "event_type", "vq", bucketWidth = 1000L, lo = (1, 20),
        hi = (19, 20))
        .createOrReplaceTempView("v_event_winsor")
      // weekly seasonal decomposition of daily volume (q247)
      TimeAgg.seasonalDecompose(ev.filter(col("event_type").isNotNull),
        "event_type", "ts_us")
        .createOrReplaceTempView("v_event_seasonal")
    }
  }

  /** Inventory bootstrap — the reference's staged subscribe
    * (`ConsumerRunnable.java:1054-1084` brings collector/router/peer up
    * before prefix topics): replay inventory fixture lines as ONE batch
    * before the stream starts, so the first streaming micro-batch joins
    * against populated dims. Idempotent (same merge path, negative
    * batch id keeps CDC disjoint from the stream's).
    */
  def bootstrap(spark: SparkSession, fixtures: DataFrame, conf: Conf): Unit =
    processBatch(fixtures, -1L, conf)

  /** Wire the app onto a (topic, msg_key, line, kafka_ts) stream. */
  def start(source: DataFrame, conf: Conf): StreamingQuery = {
    // foreachBatch executes on a CLONED session whose temp-view catalog
    // dies with the batch — views must register on the session users
    // actually query (the one that built the source)
    val session = source.sparkSession
    source.writeStream
      .option("checkpointLocation", s"${conf.root}/_checkpoint")
      .trigger(Trigger.ProcessingTime(conf.triggerMs))
      .foreachBatch { (b: DataFrame, id: Long) =>
        processBatch(b, id, conf)
        if (conf.registerViews) registerViews(session, conf)
      }
      .start()
  }

  /** [[main]]'s session. On a local master whose spark-submit and
    * spark-defaults leave `spark.sql.shuffle.partitions` unset, it is set
    * to one partition per default-parallelism slot: at Spark's default
    * of 200, a 2k-message batch takes about 45 s on 4 cores. A cluster
    * keeps its submitted value or Spark's default, because
    * `defaultParallelism` read at start counts only the cores registered
    * so far (as few as 2 under dynamic allocation); cluster behaviour of
    * either value is unmeasured. A new checkpoint records the value in
    * its offset log and every restart restores it, so the count a query
    * first starts with holds for the life of its checkpoint.
    */
  private[graft] def session(): SparkSession = {
    val spark = SparkSession.builder()
      .appName("graft-consumer")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    val sc = spark.sparkContext
    if (sc.isLocal && !spark.sessionState.conf.contains("spark.sql.shuffle.partitions"))
      spark.conf.set("spark.sql.shuffle.partitions", sc.defaultParallelism.toString)
    spark
  }

  /** `spark-submit graft.streaming.GraftApp <root> (--brokers b | --files dir) [--corpus dir]` */
  def main(args: Array[String]): Unit = {
    val root = args.headOption.getOrElse(sys.error("usage: GraftApp <root> [--brokers b|--files dir]"))
    val spark = session()
    val conf = Conf(root,
      ribBuckets = sys.env.get("GRAFT_NUM_BUCKETS").fold(1)(_.toInt),
      corpusDir = args.sliding(2).collectFirst { case Array("--corpus", d) => d })
    val source = args.sliding(2).collectFirst {
      case Array("--brokers", b) => kafkaSource(spark, b)
      case Array("--files", d)   => fileSource(spark, d)
    }.getOrElse(sys.error("need --brokers <bootstrap> or --files <dir>"))
    val q = start(source, conf)
    q.awaitTermination()
  }
}
