package graft.spark

import org.apache.spark.unsafe.types.UTF8String
import graft.core.{Hashing, UrlUtil}

/** Static-callable kernels for whole-stage codegen. Scala objects without
  * companion classes get static forwarders, so generated code can call
  * `graft.spark.SparkFun.canonicalize(x)` directly. All inputs/outputs are
  * UTF8String/primitives to stay inside Tungsten rows (no row-level
  * ser/de like a Scala UDF would pay). */
object SparkFun {
  def canonicalize(url: UTF8String): UTF8String =
    UTF8String.fromString(UrlUtil.canonicalize(url.toString))

  /** sha1-hex of the canonicalized URL — reference row identity. */
  def urlFingerprint(url: UTF8String): UTF8String =
    UTF8String.fromString(Hashing.urlFingerprint(url.toString))

  /** sha1-hex of the raw string (no canonicalization). */
  def sha1Hex(s: UTF8String): UTF8String =
    UTF8String.fromString(Hashing.sha1Hex(s.toString))

  def hostnameLocalFingerprint(url: UTF8String): UTF8String =
    UTF8String.fromString(Hashing.hostnameLocalFingerprint(url.toString))

  /** Lowercased hostname (politeness slot key). */
  def urlHost(url: UTF8String): UTF8String =
    UTF8String.fromString(UrlUtil.slotKey(url.toString))

  /** Signed-crc32 (python-compatible) of a string. */
  def signedCrc32(s: UTF8String): Int = Hashing.signedCrc32(s.toString)

  /** Crc32NamePartitioner: python-mod of signed crc32. */
  def hostPartition(host: UTF8String, partitions: Int): Int =
    Hashing.crc32Partition(host.toString, partitions)

  /** murmur3 x64_128 low half of the canonicalized URL (URL-seen key). */
  def seenKey(url: UTF8String): Long = Hashing.seenKey(url.toString)

  /** CityHash64 of a string (FingerprintPartitioner key). */
  def cityHash64(s: UTF8String): Long =
    graft.core.CityHash.cityHash64(s.getBytes)

  /** robots.txt allow/deny (F3): can `url` be fetched under `body`?
    * Empty/invalid body allows everything. */
  def robotsCanFetch(url: UTF8String, body: UTF8String): Boolean =
    graft.core.Robots.canFetch(url.toString, body.toString)

  /** is_valid_robotstxt (discovery/__init__.py:78-86). */
  def robotsValid(body: UTF8String): Boolean =
    graft.core.Robots.isValid(body.toString)

  /** 2nd-level domain of a hostname (discovery `_get_2ndlevel_name`). */
  def sld(host: UTF8String): UTF8String =
    UTF8String.fromString(UrlUtil.sld(host.toString))

  /** is_home_page_url (discovery/__init__.py:32-36). */
  def isHomePage(url: UTF8String): Boolean =
    UrlUtil.isHomePage(url.toString)

  /** `InBatchSeen` codegen kernel: does the link to `fingerprint`, whose
    * parent has batch-order key `parentKey`, see a page of the batch? */
  def inBatchSeen(bc: Object, fingerprint: UTF8String,
      parentKey: org.apache.spark.sql.catalyst.InternalRow): Boolean =
    bc.asInstanceOf[org.apache.spark.broadcast.Broadcast[BatchPages]].value
      .seen(fingerprint, parentKey)

  /** `BoundLookup` codegen kernel: the broadcast table's value for `key`,
    * or null. */
  def boundLookup(bc: Object, key: UTF8String): Object =
    bc.asInstanceOf[org.apache.spark.broadcast.Broadcast[Map[UTF8String, Any]]].value
      .getOrElse(key, null).asInstanceOf[Object]

  /** Partitioned-Bloom probe (BloomSeenProbe codegen kernel): does the
    * bucket's Bloom possibly contain the seen-key? Absent bucket = no
    * seen keys = definite negative. `bc` is the broadcast
    * Map[Int, BloomFilter] (typed as Object so generated Java can call
    * this without Scala generic signatures). */
  def bloomProbe(bc: Object, bucket: Int, key: Long): Boolean = {
    val m = bc.asInstanceOf[org.apache.spark.broadcast.Broadcast[
      Map[Int, org.apache.spark.util.sketch.BloomFilter]]].value
    m.get(bucket) match {
      case Some(f) => f.mightContainLong(key)
      case None => false
    }
  }
}
