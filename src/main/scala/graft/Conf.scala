package graft

import org.apache.spark.sql.SparkSession

object Conf {
  /** Run `body` with one SQL conf entry set, restoring the prior value
    * (or unsetting it, if it had none) afterwards — also when `body`
    * throws. The value is SESSION-GLOBAL while `body` runs: any other
    * query planned on this session meanwhile sees it too. That is
    * sound only because the engine is single-tenant (one query at a
    * time per session); a body that must not leak its setting to
    * concurrent work would need its own `spark.newSession()`, which the
    * (session, sfDir)-keyed [[Memo]] registry would then treat as a
    * different session. */
  def scoped[T](spark: SparkSession, entry: (String, String))(body: => T): T = {
    val (key, value) = entry
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
