package graft.queries

import org.apache.spark.sql.SparkSession

/** Session-conf scoping shared by every set-and-restore site (code-review
  * r13 #4: five hand-rolled copies of the same getOption/set/try-finally
  * dance, each a separate chance to fumble the restore-Some/unset-None
  * branch). One implementation; [[StreamRun]] scopes every stream row's
  * confs through it.
  */
object Confs {

  /** Set `confs` for the duration of an EAGERLY-executed `body`, then
    * restore each key to its previous value (unset where previously
    * unset). Callers must finish execution inside the body — a lazily
    * evaluated frame returned from it would run under the RESTORED confs
    * (the runtime_filter lesson: execute inside the scope, return a
    * literal frame).
    */
  private[graft] def withConfs[T](spark: SparkSession, confs: (String, String)*)(body: => T): T = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
