package graft

import org.apache.spark.sql.SparkSession

/** The one place main code changes session conf. Queries share one session,
  * so an operator that needs a setting holds it for its own block only. */
object SessionConf {

  /** Runs `body` with `key` set to `value` on `spark`, then puts back the
    * key's previous value, or unsets it if the session had none. */
  def scoped[A](spark: SparkSession, key: String, value: String)(body: => A): A = {
    val prev = spark.conf.getAll.get(key) // explicitly set values only, no defaults
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }
}
