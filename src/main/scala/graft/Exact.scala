package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** How a value is computed identically in Spark and DuckDB, decided once:
  * fixed-point money, epoch-day calendar keys, the portable content hash,
  * the quantized natural log, the key-ordered double sum, the LCG sample
  * bucket and the checksum modulus. Every registry query is checked against DuckDB
  * running its oracle SQL and must give bit-identical answers, so each
  * rule is held here as its Spark `Column` form, its DuckDB SQL twin for
  * the oracles and, where a query builds the expression inside an
  * `expr`/lambda string, its Spark-SQL string form.
  *
  * The constants are `final val` with a literal right-hand side: they
  * interpolate into oracle SQL strings, and a constant that is read
  * through another object still mid-initialization reads 0 (the
  * init-cycle rule), while a literal constant is inlined at compile time.
  */
object Exact {

  // ------------------------------------------------------------------
  // Fixed-point money
  // ------------------------------------------------------------------

  /** DECIMAL(18,4) view of a money or measure column. Sums and products
    * of decimals are exact and order-independent, so a total is the same
    * under any partitioning and in either engine; only the final
    * projection widens to DOUBLE, and an exact decimal converts to the
    * same double in both engines (below 2^53 unscaled).
    */
  def dec(c: Column): Column = c.cast(DecimalType(18, 4))
  private val oneDec: Column = lit(1).cast(DecimalType(18, 4))

  /** Narrow fixed point, DECIMAL(11,4): 7 integer digits, enough for the
    * measures here (< 1e6). A three-factor product must stay exact:
    * (11,4)×(12,4)×(12,4) = DECIMAL(37,12) in Spark and (35,12) in DuckDB,
    * under both engines' precision-38 cap. At DECIMAL(18,4) the product
    * would exceed the cap and each engine would reduce it its own way:
    * Spark rounds HALF_UP at a reduced scale, DuckDB keeps scale 12.
    */
  private def decN(c: Column): Column = c.cast(DecimalType(11, 4))
  private val oneDecN: Column = lit(1).cast(DecimalType(11, 4))

  /** Revenue term `price * (1 - discount)`, exact to scale 8. */
  def revenue(price: Column, discount: Column): Column =
    dec(price) * (oneDec - dec(discount))

  /** Charge term `price * (1 - discount) * (1 + tax)`, exact to scale 12.
    *
    * Oracle-side note: DuckDB's wide DECIMAL→DOUBLE cast can be 1 ulp off
    * the correctly rounded result (int128 → double → ÷10^s rounds twice),
    * while Java's `BigDecimal.doubleValue` always rounds correctly. An
    * oracle summing charges therefore reduces the sum to DECIMAL(21,6)
    * before its DOUBLE cast: lossless, since 2-dp inputs make every charge
    * exactly 6-dp, and it keeps the unscaled value under 2^53, where the
    * conversion is exact.
    */
  def charge(price: Column, discount: Column, tax: Column): Column =
    decN(price) * (oneDecN - decN(discount)) * (oneDecN + decN(tax))

  /** Integer-unit view of a money column, `(dec(c) * per)` as BIGINT:
    * cents at `per` = 100, basis points at 10000. The cast truncates
    * toward zero, which is exact for values with no more decimals than
    * `per` resolves; sites that need `floor` (different on negatives)
    * spell it out.
    */
  def units(c: Column, per: Int): Column = (dec(c) * per).cast("long")

  /** [[dec]] in DuckDB SQL; Spark SQL parses the same text, so `expr`
    * strings use it too.
    */
  def decSql(e: String): String = s"CAST($e AS DECIMAL(18,4))"
  def revenueSql(price: String, discount: String): String =
    s"${decSql(price)} * (${decSql("1")} - ${decSql(discount)})"
  def unitsSql(e: String, per: Int): String = s"CAST(${decSql(e)} * $per AS BIGINT)"

  // ------------------------------------------------------------------
  // Epoch-day calendar keys
  // ------------------------------------------------------------------

  /** Days since 1970-01-01 of a DATE column, as BIGINT: the integer day
    * key that calendar arithmetic (gaps, lags, weekday as `(dn + 4) % 7`)
    * runs on in both engines. Callers pass the DATE themselves
    * (`to_date(ts)` here, `CAST(ts AS DATE)` in the twin), which truncates
    * a UTC timestamp to its day identically in both.
    */
  def epochDay(date: Column): Column = datediff(date, lit("1970-01-01")).cast("long")

  /** [[epochDay]] in DuckDB SQL: a DATE difference is an integer day count. */
  def epochDaySql(date: String): String = s"CAST($date - DATE '1970-01-01' AS BIGINT)"

  /** The DATE of epoch day `day`, the inverse of [[epochDay]], as a
    * Spark-SQL string for `expr`.
    */
  def epochDateExprSql(day: String): String = s"date_add(DATE '1970-01-01', CAST($day AS INT))"

  /** [[epochDateExprSql]] in DuckDB SQL. */
  def epochDateSql(day: String): String = s"DATE '1970-01-01' + CAST($day AS INTEGER)"

  // ------------------------------------------------------------------
  // Portable hash
  // ------------------------------------------------------------------

  /** Modulus for 31-bit hash-derived values: the largest signed-int32
    * prime, so `(a*h + b)` stays within int64 for 31-bit coefficients in
    * both engines. DuckDB raises on BIGINT overflow rather than wrapping,
    * so portable arithmetic must stay in range, not rely on wraparound.
    */
  final val HashP = 2147483647L

  /** 60-bit non-negative content hash: the first 15 hex chars of `md5`,
    * the one hash both engines compute identically. Spark's own
    * `hash()`/`xxhash64` would make results engine-dependent.
    */
  def portableHash(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** [[portableHash]] in DuckDB SQL. */
  def portableHashSql(e: String): String =
    s"CAST(('0x' || substr(md5($e), 1, 15)) AS BIGINT)"

  /** [[portableHash]] as a Spark-SQL string, for `expr(...)` and lambda
    * bodies where a Column cannot reach.
    */
  def portableHashExprSql(v: String): String =
    s"CAST(conv(substring(md5($v), 1, 15), 16, 10) AS BIGINT)"

  /** 31-bit reduction used by the minhash/simhash coefficients. */
  def h31(c: Column): Column = portableHash(c) % HashP
  def h31Sql(e: String): String = s"(${portableHashSql(e)} % $HashP)"
  def h31ExprSql(v: String): String = s"${portableHashExprSql(v)} % $HashP"

  // ------------------------------------------------------------------
  // Quantized natural log
  // ------------------------------------------------------------------

  /** Fixed-point scale of [[quantLog]]: logs become BIGINT micro-nats. */
  final val logScale = 1000000L

  /** `floor(ln(c)·10⁶)` as BIGINT. Each log is floored to an integer
    * before any arithmetic, so sums and differences of logs are exact
    * integer arithmetic, order-free under any partitioning. The only
    * cross-engine exposure left is `ln` itself: JVM `Math.log` and libm
    * may disagree in the last ulp, which flips a floor only when
    * ln(v)·10⁶ sits within ~1e-10 of an integer.
    */
  def quantLog(c: Column): Column =
    floor(log(c.cast("double")) * logScale).cast("long")

  def quantLogSql(e: String): String =
    s"CAST(floor(ln(CAST($e AS DOUBLE)) * $logScale) AS BIGINT)"

  // ------------------------------------------------------------------
  // Ordered double sum
  // ------------------------------------------------------------------

  /** Σ `v` per group, folded in `key` order. A bare `sum` over doubles
    * accumulates in partition order, so the low bits drift with the
    * partitioning and between engines; sorting the collected
    * `(key, v)` structs first fixes the order. `key` must be unique
    * within the group. The DuckDB twin is [[orderedSumSql]].
    */
  def orderedSum(key: String, v: String): Column =
    aggregate(array_sort(collect_list(struct(col(key), col(v)))),
      lit(0.0), (acc, x) => acc + x.getField(v))

  /** The ordered sum as a Spark-SQL string: `term` over the lambda
    * element `e` of the sorted `struct(fields)`, the first field the key.
    */
  def orderedSumExprSql(fields: String, term: String): String =
    s"aggregate(array_sort(collect_list(struct($fields))), cast(0 as double), (acc, e) -> acc + $term)"

  /** [[orderedSum]] in DuckDB SQL. */
  def orderedSumSql(v: String, key: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list($v ORDER BY $key)), (a, b) -> a + b)"

  // ------------------------------------------------------------------
  // LCG sample bucket
  // ------------------------------------------------------------------

  final val lcgMul = 1103515245L
  final val lcgAdd = 12345L

  /** Deterministic sample bucket `((id % m) * 1103515245 + 12345) % k`.
    * `m` bounds the intermediate: (m−1) × 1103515245 stays inside int64
    * for any m up to ~8e9 (5.5e14 at m = 500000), so neither engine
    * overflows. Keying on `id % m` keeps an id and its twin `id + m` in
    * the same bucket. Each query keeps its own `m`, `k` and kept share.
    */
  def sampleBucket(id: Column, m: Long, k: Long): Column =
    ((id % m) * lcgMul + lcgAdd) % k

  /** [[sampleBucket]] as a Spark-SQL string. */
  def sampleBucketExprSql(id: String, m: Long, k: Long): String =
    s"(($id % $m) * $lcgMul + $lcgAdd) % $k"

  /** [[sampleBucket]] in DuckDB SQL; the BIGINT cast keeps an INT32 id
    * column from multiplying, and overflowing, in INT32.
    */
  def sampleBucketSql(id: String, m: Long, k: Long): String =
    s"((CAST($id AS BIGINT) % $m) * $lcgMul + $lcgAdd) % $k"

  // ------------------------------------------------------------------
  // Checksum
  // ------------------------------------------------------------------

  /** Mersenne prime 2^61−1: the content-checksum modulus. */
  final val checksumP = 2305843009213693951L

  /** Order-free checksum `Σ c mod 2^61−1` as BIGINT. The sum runs in
    * DECIMAL(38,0), where a plain int64 sum of 60-bit hashes would
    * overflow at a few hundred rows, and no decimal→double cast is taken,
    * whose last-ulp rounding differs between engines above 2^53.
    */
  def checksum(c: Column): Column =
    (sum(c.cast("decimal(38,0)")) % lit(checksumP)).cast("long")

  def checksumSql(e: String): String =
    s"CAST(sum(CAST($e AS DECIMAL(38,0))) % $checksumP AS BIGINT)"
}
