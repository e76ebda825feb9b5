// Test-only bridge into SparkContext's private[spark] conf: the
// compute-dense scan guard (graft.Tables.computeDense) fires only when
// the session's default parallelism dwarfs the corpus's split count,
// which the shared local[4] test session never reaches. Plan pins of
// the guard's scope raise the parallelism the local backend reports
// for the duration of one plan build.
package org.apache.spark

object GraftParallelismBridge {
  def withDefaultParallelism[T](sc: SparkContext, n: Int)(body: => T): T = {
    val key = "spark.default.parallelism"
    val saved = sc.conf.getOption(key)
    sc.conf.set(key, n.toString)
    try body
    finally saved match {
      case Some(v) => sc.conf.set(key, v)
      case None => sc.conf.remove(key)
    }
  }
}
