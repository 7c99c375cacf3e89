package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.unsafe.types.UTF8String

import graft.core.UrlNormalizer

/** URL canonicalization as a native kernel (`canonicalize_url`): runs
  * inside whole-stage codegen, with no Scala-UDF encoder round trip and
  * no closure serialization. Null when the URL cannot be canonicalized
  * (e.g. javascript: with no site). The algorithm lives in
  * graft.core.UrlNormalizer.
  */
object CanonicalizeUrl {
  def invoke(url: UTF8String): UTF8String =
    UrlNormalizer.canonicalize(url.toString).map(UTF8String.fromString).orNull

  def canonicalize_url(c: Column): Column = Kernels.call("canonicalize_url", c)
}
