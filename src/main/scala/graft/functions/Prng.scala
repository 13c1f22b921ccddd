package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic, partition-independent pseudo-randomness.
  *
  * The reference seeds `std::default_random_engine` / curand per thread
  * (/root/reference/src/database/common/random.h:8-41,
  * /root/reference/src/cuda/cudarand.cuh:29-61), which is NOT reproducible
  * across launch shapes. Our engine requires bit-identical results across
  * runs and partition counts (SURVEY.md §5.4), so every "random" value is a
  * pure function of (seed, row identity) computed with codegen'd built-ins:
  * `xxhash64` for integers and `md5` for payload strings. No `rand()`, no
  * UDFs — everything stays inside whole-stage codegen.
  */
object Prng {

  /** Uniform integer in [0, n) as a function of the hashed columns.
    * `pmod` keeps it non-negative regardless of hash sign.
    */
  def uniformInt(n: Int, cols: Column*): Column =
    pmod(xxhash64(cols: _*), lit(n.toLong)).cast("int")

  /** Uniform integer in [lo, hi] inclusive. */
  def uniformRange(lo: Int, hi: Int, cols: Column*): Column =
    (uniformInt(hi - lo + 1, cols: _*) + lit(lo))

  /** Bernoulli(p percent) as a boolean column. */
  def bernoulliPct(pct: Int, cols: Column*): Column =
    uniformInt(100, cols: _*) < lit(pct)

  /** Deterministic 10-char printable payload field, standing in for the
    * reference's random 10-char ASCII fields
    * (/root/reference/src/cuda/kv.cuh:64-78). We use the first 10 hex chars
    * of md5 — printable, deterministic, and reproducible in any SQL engine.
    */
  def payloadField(cols: Column*): Column =
    substring(md5(concat_ws("_", cols: _*)), 1, 10)
}
