package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-5 batch I: exact audience overlap from mergeable bitmap
  * artifacts.
  */
object RelMore35 extends KeyModule {

  /** agg-bitmap-intersect — exact audience OVERLAP between every pair
    * of event types, computed from the same persistable bitmap shards
    * agg-bitmap-distinct builds — never by re-scanning facts or
    * re-shuffling user ids. Spark ships no binary bitmap AND, so the
    * intersection is inclusion-exclusion: per (pair, bucket),
    * |A∩B| = |A| + |B| − |A∪B|, with |A∪B| from one more bitmap_or_agg
    * over the two types' shard bitmaps (10 pairs × |buckets| rows of
    * 4 KB bitmaps — artifact-sized, not fact-sized). Disjoint buckets
    * sum exactly. This is the audience-overlap / segment-venn query
    * every ads warehouse runs hourly; with bitmaps persisted as a gold
    * artifact the marginal cost per question is KBs of OR-ing, and the
    * answer is exact where sketch intersections (HLL) degrade
    * catastrophically on small overlaps. Jaccard in exact ppm closes
    * the loop with the similarity family. */
  val aggBitmapIntersect: Q = (s, d) => {
    val ev = events(s, d)
    val shards = ev.groupBy(col("event_type"),
        expr("bitmap_bucket_number(user_id)").as("bucket"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))").as("bm"))
      .persist()
    val perType = shards.groupBy("event_type")
      .agg(sum(expr("bitmap_count(bm)")).as("n_users"))
    val tl = shards.select(col("event_type")).distinct()
    val pairsT = tl.as("x").join(tl.as("y"),
        col("x.event_type") < col("y.event_type"))
      .select(col("x.event_type").as("t1"), col("y.event_type").as("t2"))
    // every shard contributes its bitmap to each pair its type is in —
    // |pairs| × |buckets| artifact-sized rows, never fact rows
    val unionCnt = shards
      .join(broadcast(pairsT),
        col("event_type") === col("t1") || col("event_type") === col("t2"))
      .select(col("t1"), col("t2"), col("bucket"), col("bm"))
      .groupBy("t1", "t2", "bucket")
      .agg(expr("bitmap_count(bitmap_or_agg(bm))").as("cnt_or"))
      .groupBy("t1", "t2")
      .agg(sum("cnt_or").as("n_union"))
    val out = unionCnt
      .join(broadcast(perType.select(col("event_type").as("t1"), col("n_users").as("n_t1"))), Seq("t1"))
      .join(broadcast(perType.select(col("event_type").as("t2"), col("n_users").as("n_t2"))), Seq("t2"))
      .select(col("t1"), col("t2"), col("n_t1"), col("n_t2"),
        (col("n_t1") + col("n_t2") - col("n_union")).as("n_overlap"),
        floor((col("n_t1") + col("n_t2") - col("n_union")) * lit(1000000L) / col("n_union"))
          .cast(LongType).as("jaccard_ppm"))
      .orderBy("t1", "t2")
    out.count() // materialize while shards are cached
    shards.unpersist(blocking = false)
    out
  }

  val aggBitmapIntersectSql: String =
    """WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
      |types AS (SELECT event_type, count(*) AS n_users FROM u GROUP BY 1),
      |pairs AS (
      |  SELECT a.event_type AS t1, b.event_type AS t2
      |  FROM types a JOIN types b ON a.event_type < b.event_type),
      |ovl AS (
      |  SELECT p.t1, p.t2, count(*) AS n_overlap
      |  FROM pairs p
      |  JOIN u a ON a.event_type = p.t1
      |  JOIN u b ON b.event_type = p.t2 AND b.user_id = a.user_id
      |  GROUP BY 1, 2)
      |SELECT p.t1, p.t2, ta.n_users AS n_t1, tb.n_users AS n_t2,
      |       CAST(COALESCE(o.n_overlap, 0) AS BIGINT) AS n_overlap,
      |       CAST(floor(COALESCE(o.n_overlap, 0) * 1000000
      |                  / (ta.n_users + tb.n_users - COALESCE(o.n_overlap, 0))) AS BIGINT) AS jaccard_ppm
      |FROM pairs p
      |JOIN types ta ON ta.event_type = p.t1
      |JOIN types tb ON tb.event_type = p.t2
      |LEFT JOIN ovl o ON o.t1 = p.t1 AND o.t2 = p.t2
      |ORDER BY p.t1, p.t2""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-bitmap-intersect", aggBitmapIntersect, aggBitmapIntersectSql))
}
