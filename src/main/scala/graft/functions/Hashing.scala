package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic, dialect-portable hashing primitives.
  *
  * `hash60` is the engine's canonical content hash for dedup /
  * fingerprinting: the top 60 bits of md5, reconstructable in any
  * engine with an md5 function (DuckDB: `CAST('0x'||substr(md5(x),1,15)
  * AS BIGINT)`), unlike Spark-private xxhash64/Murmur3 seeds. md5 is
  * codegen'd in Spark, so this stays inside whole-stage codegen.
  * 60 bits keeps the value positive in a signed 64-bit long and leaves
  * collision odds at ~n²/2⁶¹ (negligible below ~10⁹ distinct keys per
  * scope; for 100 TB corpora use the full 128-bit md5 pair instead).
  */
object Hashing {

  /** 60-bit positive content hash of a string column — the native
    * codegen'd expression (VectorExpressions.hash60), value-identical
    * to the composed form below (spec-checked both ways).
    */
  def hash60(c: Column): Column =
    VectorExpressions.hash60(c)

  /** The composable-built-ins twin (md5 → hex substring → base-16
    * parse): kept as the reference semantics the native expression and
    * every engine's oracle must match.
    */
  def hash60Composed(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Driver-side twin of `hash60` for PLAN-TIME literals: top 60 bits
    * of md5, bit-identical to the column expression (spec-pinned).
    * Exists so an index query can push `term_h IN (<literal hashes>)`
    * into the bucketed scan — Spark prunes buckets (and parquet prunes
    * row groups) only on literal predicates against the bucket column;
    * a join alone streams every bucket through the probe.
    */
  def hash60Jvm(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var acc = 0L
    var i   = 0
    while (i < 8) { acc = (acc << 8) | (d(i) & 0xffL); i += 1 }
    acc >>> 4 // 64 big-endian bits -> top 60, always non-negative
  }
}
