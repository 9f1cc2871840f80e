package graft.ops

import graft.{Parquet, Q, T}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Inverted text index: token → posting list (doc_id, tf), materialized
  * as a token-hash-bucketed parquet layout, plus the conjunctive-AND
  * lookup over it — the exact-match retrieval sibling of q110's BM25
  * (which scores, but scans the whole token frame per query). Building
  * the index once and bucketing it by `pmod(xxhash64(token), 16)` means
  * a query for k terms reads at most k of 16 partition directories
  * (partition pruning on the bucket column — InvertedPlanSpec pins the
  * PartitionFilters), and files within a bucket are sorted by token so
  * parquet min/max stats prune row groups within the bucket too.
  *
  * Scale shape: the build is ONE shuffle of (token, doc_id) pairs —
  * signatures and ids only, never document text — with map-side combine
  * on the (token, doc_id) tf count; at 100 TB the bucket count scales
  * with the cluster (thousands), and the lookup cost is proportional to
  * the query terms' posting lists, not the corpus. The conjunctive
  * intersection is a |postings(terms)|-sized groupBy on doc_id — the
  * smallest shuffle that answers AND semantics. */
object Inverted {

  val NumBuckets = 16

  /** Postings layout: (token, doc_id, tf) partitioned by token-hash
    * bucket, token-sorted within each bucket's files — a
    * [[graft.Scratch.derived]] table of the documents file. */
  def ensurePostings(s: SparkSession, sfDir: String): String =
    graft.Scratch.derived(s, "inverted", Seq(s"$sfDir/documents.parquet")) { path =>
      T(s, sfDir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .groupBy(col("token"), col("doc_id"))
        .agg(count(lit(1)).as("tf"))
        .withColumn("bucket", pmod(xxhash64(col("token")), lit(NumBuckets)).cast("int"))
        .repartition(col("bucket"))
        .sortWithinPartitions("token", "doc_id")
        .write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(path)
      path
    }

  /** Conjunctive lookup: docs containing ALL `terms`, with total term
    * frequency. Exposed for the plan spec. */
  def conjunctiveSearch(s: SparkSession, sfDir: String, terms: Seq[String]): DataFrame = {
    val path = ensurePostings(s, sfDir)
    // bucket ids of the query terms via the same hash the layout used —
    // computed on a |terms|-row local relation, collected bounded.
    val buckets = s.createDataFrame(terms.map(Tuple1(_))).toDF("t")
      .select(pmod(xxhash64(col("t")), lit(NumBuckets)).cast("int"))
      .collect().map(_.getInt(0)).distinct.toSeq
    Parquet.read(s, path)
      .filter(col("bucket").isin(buckets: _*) && col("token").isin(terms: _*))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("token")).as("n_terms"),
        sum(col("tf")).cast(LongType).as("n_hits"))
      .filter(col("n_terms") === terms.size)
      .select(col("doc_id"), col("n_hits"))
      .orderBy(asc_nulls_first("doc_id"))
  }

  /** q165: conjunctive term search through the bucketed inverted index.
    * The oracle answers the same AND query straight from the text, so a
    * hash match proves the index is a faithful (lossless) rewrite of the
    * corpus — a posting dropped or double-counted by the build breaks
    * either membership or tf. */
  private val q165 = Q(
    "q165_inverted_index",
    (s, dir) => conjunctiveSearch(s, dir, Seq("table", "hash", "merge")),
    Some("""WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      f AS (SELECT doc_id, token, COUNT(*) AS tf
            FROM tok WHERE token IN ('table', 'hash', 'merge')
            GROUP BY doc_id, token)
      SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_hits
      FROM f GROUP BY doc_id
      HAVING COUNT(DISTINCT token) = 3
      ORDER BY doc_id ASC NULLS FIRST"""),
    "token-hash-bucketed inverted index + conjunctive AND lookup: k query terms read ≤ k of 16 partition dirs (plan-gated); oracle re-answers from raw text")

  val all: Seq[Q] = Seq(q165)
}
