package graft.sources

import java.lang.ref.WeakReference

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

/** The session's Hadoop configuration as executors see it: one broadcast
  * `SerializableConfiguration`, the way Spark's own file sources ship it,
  * shared by every pcap/warc/wds/zip reader and writer factory. A conf
  * embedded in a factory would put its ~1,100 entries into every task
  * binary and make every task deserialize them.
  *
  * One slot, not a memo map: a new broadcast is built only when the
  * context is replaced (a stopped session's broadcast is never reused) or
  * the conf's content changes (a Hadoop key set with `spark.conf.set`
  * between two reads reaches the executors of the second). Sessions
  * whose Hadoop settings differ, used in turn, rebuild it on each turn. */
object HadoopConfBroadcast {

  private final class Slot(val sc: WeakReference[SparkContext],
      val entries: Map[String, String],
      val bc: Broadcast[SerializableConfiguration])

  private var slot: Slot = _

  def apply(spark: SparkSession): Broadcast[SerializableConfiguration] =
    apply(spark, spark.sessionState.newHadoopConf())

  /** As above, for a caller that already built the session's Hadoop conf
    * (a scan that lists and prunes with it); `conf` must not be changed
    * afterwards, since the broadcast may hold it. */
  def apply(spark: SparkSession, conf: Configuration)
      : Broadcast[SerializableConfiguration] = {
    val sc = spark.sparkContext
    val entries = conf.iterator.asScala.map(e => e.getKey -> e.getValue).toMap
    synchronized {
      val s = slot
      if (s != null && (s.sc.get eq sc) && !sc.isStopped &&
          s.entries == entries) s.bc
      else {
        val bc = sc.broadcast(new SerializableConfiguration(conf))
        slot = new Slot(new WeakReference(sc), entries, bc)
        bc
      }
    }
  }
}
