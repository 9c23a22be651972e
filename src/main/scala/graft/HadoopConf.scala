package graft

import org.apache.hadoop.conf.Configuration
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

object HadoopConf {
  /** The session's Hadoop conf as it is at the call, broadcast for
    * executor-side FileSystem access: one copy per executor, not one per
    * task closure (the conf is ~100 KB of XML). `new Configuration()` in a
    * task would silently drop every session filesystem setting (s3a
    * credentials, custom providers) — fine on local disk, broken the first
    * time a path is remote.
    *
    * `sessionState.newHadoopConf()` is a fresh copy of the context's
    * `hadoopConfiguration` plus the session's SQL conf, as Spark's own file
    * sources see it, so a setting changed on the session is seen by the
    * next call. `prepare` may adjust that copy before it ships; the
    * session's own conf is never touched. Tasks read `value.value` and must
    * not mutate it: it is one object shared by every task on an executor.
    */
  def broadcast(s: SparkSession,
      prepare: Configuration => Configuration = identity)
      : Broadcast[SerializableConfiguration] =
    s.sparkContext.broadcast(new SerializableConfiguration(
      prepare(s.sessionState.newHadoopConf())))
}
