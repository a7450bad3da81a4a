package org.apache.spark.sql

/** Sessions that `SparkSession.builder()` cannot make while a context is
  * running. */
object TestSessions {
  private val ExtensionsKey = "spark.sql.extensions"

  /** A session over `s`'s context with no session extensions: what an
    * application that sets no `spark.sql.extensions` gets. A new session
    * applies the extensions its context's conf names, so the key is held
    * out of that conf while the session is made. */
  def withoutExtensions(s: SparkSession): SparkSession = {
    val conf = s.sparkContext.conf
    conf.synchronized {
      val saved = conf.getOption(ExtensionsKey)
      conf.remove(ExtensionsKey)
      try new classic.SparkSession(s.sparkContext)
      finally saved.foreach(conf.set(ExtensionsKey, _))
    }
  }
}
