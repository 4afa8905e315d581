package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr, sum}

/** The one bucketed prefix scan behind the running sums and ranks of m07,
  * x02/st06 (`TrainingMix.packByLang`), q16 and sk04. A window `PARTITION BY
  * keys` is one task per key value, and a month, language or return flag
  * has a handful. So the sum runs as (1) one `sum(value)` per `(keys…,
  * bucket)`, collapsed map-side; (2) a prefix over that bucket frame, the
  * only window partitioned by `keys` alone; (3) a bucket-local window plus
  * the bucket's offset. With `bucket` monotone in the order this equals the
  * single window: the sum before a row = the buckets before its bucket + the
  * rows before it in its bucket. One exchange, (keys, bucket), carries rows;
  * the offset join reuses it or broadcasts. With `value = 1` the rows of
  * bucket v hold ranks `bucket_offset + 1 … bucket_offset + bucket_total`.
  */
object PrefixScan {

  /** One row per `(keys…, bucket)`: `bucket_total`, its sum of `value` (SQL),
    * and `bucket_offset`, the sum of the buckets before it in its key group. */
  def bucketOffsets(df: DataFrame, keys: Seq[String], bucket: String,
      value: String): DataFrame =
    df.groupBy((keys :+ bucket).map(col): _*)
      .agg(sum(expr(value)).as("bucket_total"))
      .selectExpr(keys :+ bucket :+ "bucket_total" :+
        (s"COALESCE(SUM(bucket_total) OVER (PARTITION BY ${keys.mkString(", ")} " +
          s"ORDER BY $bucket ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), " +
          "CAST(0 AS BIGINT)) AS bucket_offset"): _*)

  /** `df` plus `as`, the sum of `value` over the rows before each row of its
    * key group in `order`; `bucket` is a column of `df`. */
  def exclusiveSum(df: DataFrame, keys: Seq[String], bucket: String,
      order: String, value: String, as: String): DataFrame =
    df.join(bucketOffsets(df, keys, bucket, value).drop("bucket_total"), keys :+ bucket)
      .selectExpr(df.columns.toSeq :+ (s"bucket_offset + COALESCE(SUM($value) OVER " +
        s"(PARTITION BY ${(keys :+ bucket).mkString(", ")} ORDER BY $order " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), CAST(0 AS BIGINT)) AS " + as): _*)
}
