package graft

import org.apache.spark.sql.SparkSession
import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration
import scala.util.Try

/** Driver-side helpers shared by the engine and the query inventory: the
  * one scratch root, scoped session conf, and joining concurrent legs. */
object Driver {

  /** Scratch area for gate warehouses, persisted indexes and stage files
    * (`SPARK_GRAFT_TMP`, default `target/graft-scratch` under the working
    * directory, made absolute). Oracle SQL embeds paths under it, so both
    * sides must read it from here. */
  def scratchRoot: String =
    sys.env.getOrElse("SPARK_GRAFT_TMP",
      new java.io.File("target/graft-scratch").getAbsolutePath)

  /** Run `f` with session conf `kvs` set, then restore each key to its
    * prior value, or unset it if it had none — whether `f` returns or
    * throws — so a scoped setting never leaks into later work. */
  def withConf[T](s: SparkSession, kvs: (String, String)*)(f: => T): T = {
    val prior = kvs.map { case (k, _) => k -> s.conf.getOption(k) }
    try {
      kvs.foreach { case (k, v) => s.conf.set(k, v) }
      f
    } finally prior.reverse.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Wait until EVERY future has settled, then return their results in
    * order or rethrow the first failure in submission order: no leg is
    * still writing when the caller moves on or shuts its pool down. */
  def awaitAll[T](fs: Seq[Future[T]]): Seq[T] =
    fs.map(f => Try(Await.result(f, Duration.Inf))).map(_.get)
}
