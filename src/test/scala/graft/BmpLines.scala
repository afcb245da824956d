package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.GraftApp

/** One TSV line per parsed-message topic, in the topics' column order,
  * and a (topic, line) micro-batch of them as the file source yields it.
  */
object BmpLines {
  def collectorLine(hash: String, action: String, ts: String) =
    s"$hash\t$action\tadmin\t\t1\t$ts"
  def routerLine(hash: String, name: String, ip: String, ts: String,
                 action: String, collector: String) =
    s"$hash\t$name\t$ip\t$ts\t$action\t\t\t\t\tdescr\t$ip\t$collector"
  def peerLine(hash: String, router: String, addr: String, name: String,
               bgpId: String, as: Long, action: String, ts: String) =
    s"$hash\t$router\t0:0\t1\t$addr\t$name\t$bgpId\t$as\t$action\t0\t$ts\t1\t" +
      "10.0.0.1\t10.0.0.1\t179\t90\t65000\t33001\t90\tcap\tcap\t\t\t\t\t0\t0\ttbl"
  def attrLine(hash: String, peer: String, originAs: Long, ts: String) =
    s"$hash\t$peer\tigp\t65001 $originAs\t$originAs\t10.1.1.1\t0\t100\t0\t\t\t\t\t\t\t2\t1\t$ts"
  def prefixLine(hash: String, peer: String, attr: String, prefix: String,
                 len: Int, ts: String, withdrawn: Boolean) =
    s"$hash\t$peer\t$attr\t1\t65002\t$prefix\t$len\t$ts\t${if (withdrawn) 1 else 0}\t0\t\t1\t1"
  def statLine(peer: String, ts: String) =
    s"$peer\t$ts\t1\t2\t3\t4\t5\t6\t7\t8\t9"
  def l3vpnLine(hash: String, peer: String, attr: String, prefix: String, ts: String) =
    prefixLine(hash, peer, attr, prefix, 24, ts, withdrawn = false) + "\t1:1\t65000:1"
  def lsNodeLine(hash: String, peer: String, ts: String) =
    s"$hash\t$peer\ta1\t1\t65001\t0\t10.0.0.9\t0.0.0.0\tOSPFv2\t10.0.0.9\t\t\tnode-$hash\t0\tcap\t0\t$ts"
  def lsLinkLine(hash: String, peer: String, ts: String) =
    s"$hash\t$peer\ta1\t1\tn1\tn2\t10.0.0.1\t10.0.0.2\t0\t1\t2\t0\t1000\t1000\t1000\t10\t0\t0\t10\t" +
      s"\tlink-$hash\t0\t$ts\t\t\t\t\t65001\t65002\t\t"
  def lsPrefixLine(hash: String, peer: String, ts: String) =
    s"$hash\t$peer\ta1\t1\tn1\t0\tIntra\t0\t0\t0\t0.0.0.0\t10\t10.9.0.0\t24\t0\t$ts"

  /** A micro-batch of `(topic suffix, line)` pairs. */
  def batch(spark: SparkSession, lines: (String, String)*): DataFrame = {
    import spark.implicits._
    lines.toDF("topic", "line")
      .select(concat(lit(GraftApp.TopicPrefix), col("topic")).as("topic"), col("line"))
  }
}
