package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** Working directories for the SIDE-EFFECTING queries (persisted
  * index builds, SCD2 merges, profile stores): keyed by the input
  * dir AND the running SparkSession, so two concurrent sessions
  * benching the same sf directory cannot race each other's
  * delete/rebuild of a shared path. The session component is the
  * application id plus the session object's identity hash — unique
  * per SparkSession within and across JVMs on the same host; the
  * dir component keeps paths stable WITHIN a session so a query's
  * own marker/idempotence machinery still engages across repeat
  * invocations (the wipe-then-rebuild queries rely on that).
  *
  * Every directory handed out is REGISTERED and deleted when its
  * session's application ends (SparkListenerApplicationEnd, with a
  * JVM shutdown hook as the backstop for sessions never stopped
  * explicitly) — session-unique paths would otherwise accumulate
  * full parquet trees in java.io.tmpdir forever, one set per
  * bench/test run (ADVICE r13). */
object TmpPaths {

  private val dirsByApp =
    new java.util.concurrent.ConcurrentHashMap[String,
      java.util.Set[String]]()
  private val hooked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
    ()
  }

  private def cleanup(appKey: String): Unit = {
    val dirs = dirsByApp.remove(appKey)
    if (dirs != null)
      dirs.forEach(d => deleteRecursively(new java.io.File(d)))
  }

  def workDir(spark: SparkSession, tag: String, dir: String): String = {
    val appKey =
      spark.sparkContext.applicationId.replaceAll("[^A-Za-z0-9_-]", "") +
        "_" + java.lang.Integer.toHexString(System.identityHashCode(spark))
    val path = s"${sys.props("java.io.tmpdir")}/graft_${tag}_" +
      java.lang.Integer.toHexString(dir.hashCode) + "_" + appKey
    dirsByApp.computeIfAbsent(appKey,
      _ => java.util.concurrent.ConcurrentHashMap.newKeySet[String]())
      .add(path)
    if (hooked.add(appKey)) {
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(
            e: SparkListenerApplicationEnd): Unit = cleanup(appKey)
      })
      Runtime.getRuntime.addShutdownHook(
        new Thread(() => cleanup(appKey), s"graft-tmp-cleanup-$appKey"))
    }
    path
  }
}
