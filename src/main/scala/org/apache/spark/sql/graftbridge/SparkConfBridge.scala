package org.apache.spark.sql.graftbridge

import org.apache.spark.{SparkConf, SparkContext}

/** Bridge to a SparkContext's live `private[spark]` conf. `getConf`
  * returns a copy; a session that is not yet built reads its SQL conf
  * defaults from this live one, so a value set here before the session's
  * state exists is what that session starts with.
  */
object SparkConfBridge {
  def live(sc: SparkContext): SparkConf = sc.conf
}
