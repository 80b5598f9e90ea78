package graft

import org.apache.hadoop.conf.Configuration
import org.slf4j.LoggerFactory

/** Empties a Hadoop conf's per-key source records (the private
  * `updatingResource` map behind `getPropertySources`), which
  * `Configuration.write` gzips key by key (see [[GraftSession]]). Keys,
  * values, final parameters and deprecations are untouched. The one place
  * in `src/main` that reaches into a library's fields (`lintCheck` rejects
  * reflection anywhere else).
  */
object HadoopConf {
  def dropSources(conf: Configuration): Unit = {
    conf.size() // load it first: a later load would record every source again
    scala.util.Try(classOf[Configuration].getDeclaredField("updatingResource")).toOption match {
      case Some(f) =>
        f.setAccessible(true)
        f.get(conf).asInstanceOf[java.util.Map[_, _]].clear()
      case None =>
        LoggerFactory.getLogger(getClass).warn("Configuration has no updatingResource field; its source records stay")
    }
  }
}
