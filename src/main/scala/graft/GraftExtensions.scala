package graft

import org.apache.spark.sql.SparkSessionExtensions

/**
 * Spark extensions entry point — the standard way to ship this engine's
 * Catalyst surface to a cluster without code changes:
 *
 *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
 *
 * Injects every scalar expression (cell index, geotag, PIP, text/vector
 * kernels) into the session's function registry at build time, so pure
 * SQL (`SELECT cell_of(lon, lat, 12) ...`, thriftserver sessions,
 * notebooks) reaches the same codegen'd kernels as the Column API.
 * Complements `graft.functions.registerAll`, which does the same for an
 * already-built session.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.functions.injectAll(ext)
  }
}
