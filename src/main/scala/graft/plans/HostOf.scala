package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.unsafe.types.UTF8String

import graft.core.UrlNormalizer

/** URL → host as a native kernel (`host_of`): keeps the wave loop's
  * frontier-expansion projection (the hottest per-wave stage) fully
  * inside whole-stage codegen, where an inline Scala UDF forced an
  * encoder round trip per link.
  */
object HostOf {
  def invoke(url: UTF8String): UTF8String =
    UTF8String.fromString(UrlNormalizer.hostOf(url.toString))

  def host_of(c: Column): Column = Kernels.call("host_of", c)
}
