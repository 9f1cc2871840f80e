package graft.llm

import graft.{Q, T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The end-to-end "corpus in, training shards out" run — the composition a
  * real 100 TB training-data pipeline executes as ONE job, stitched from
  * the repo's already-plan-audited kernels:
  *
  *   1. [[Dedup.dedupPipeline]]  — MinHash-LSH candidates → exact verify →
  *      connected components → canonical keep flags;
  *   2. leakage-safe split        — split assigned per dedup COMPONENT
  *      (Lee et al. 2022 §5: document-hash splits leak near-identical
  *      text across train/eval), deterministic hash of the component
  *      representative, 80/10/10;
  *   3. [[graft.ops.TextOps.packBySource]] — greedy first-fit packing
  *      within each (split, source) shard;
  *   4. [[graft.ops.Analytics.globalShufflePositions]] — reproducible
  *      global training order over the train split, no single-partition
  *      window.
  *
  * Scale shape: the composition adds NO new shuffle class beyond its
  * stages — dedup flags are components-sized, the split is a map-side
  * projection on the flags, packing shuffles (shard, id, size) triples
  * only, and the order join is id↔id. Text never re-shuffles after the
  * LSH stage. PipelineSpec asserts the three invariants the stages must
  * jointly deliver: no dup component straddles splits, every kept doc
  * lands in exactly one bin exactly once, and the train order is a
  * bijection onto 0..n_train-1. */
object Pipeline {

  /** The q101 planted-duplicate corpus WITH the metadata columns the
    * downstream stages need (source for sharding, n_chars for packing):
    * every 25th doc gets a near-clone (appended tokens, shingle-Jaccard
    * ≈ 0.9), every 40th an exact clone — so dedup has real work and the
    * spec knows exactly which ids must be dropped. */
  def plantedCorpus(s: SparkSession, dir: String): DataFrame = {
    val base = T(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
    // span-derived family offsets (the Dedup r14 rule: constants
    // collided past span 100k — caught by the sf10 law gate); the span
    // is an in-plan broadcast scalar since r17 (no per-query driver
    // action — Dedup.spanFrame)
    val span = Dedup.spanFrame(base)
    val near = base.filter(col("doc_id") % 25 === 0).crossJoin(span)
      .withColumn("text", concat(col("text"), lit(" appended near dup suffix")))
      .select((col("doc_id") + lit(2L) * col("_span")).as("doc_id"), col("text"),
        col("source"), length(col("text")).cast(LongType).as("n_chars"))
    val exact = base.filter(col("doc_id") % 40 === 0).crossJoin(span)
      .select((col("doc_id") + lit(3L) * col("_span")).as("doc_id"), col("text"),
        col("source"), col("n_chars"))
    base.unionByName(near).unionByName(exact)
  }

  /** One row per SURVIVING doc: (doc_id, cluster, split, shard, bin,
    * bin_fill, pos) — pos is the global training-order position for
    * train-split docs, null for val/test. */
  def trainingShards(s: SparkSession, docs: DataFrame,
      threshold: Double, cap: Long): DataFrame = {
    // components-sized; materialized once, reused by three consumers
    // lazy since r16: the first consumer's job materializes the frame
    // (eager ran a dedicated materialization job first — guide §1.2);
    // dedupFlags = the pipeline without its presentation sort, which a
    // checkpoint would otherwise materialize (order is irrelevant here —
    // every consumer is a join/filter)
    val flags = Dedup.dedupFlags(s, docs.select(col("doc_id"), col("text")), threshold)
      .localCheckpoint(false)
    val kept = docs.join(flags.filter(col("keep")), Seq("doc_id"))
      // split keyed on the CLUSTER representative: by construction no
      // component can straddle train/eval
      .withColumn("split",
        when(pmod(xxhash64(col("cluster")), lit(10)) < 8, "train")
          .when(pmod(xxhash64(col("cluster")), lit(10)) === 8, "val")
          .otherwise("test"))
    val packed = graft.ops.TextOps.packBySource(s,
        kept.select(concat(col("split"), lit("|"), col("source")).as("source"),
          col("doc_id"), col("n_chars")), cap)
      .select(col("source").as("shard"), col("doc_id"), col("bin"), col("bin_fill"))
    val order = graft.ops.Analytics.globalShufflePositions(
      kept.filter(col("split") === "train").select(col("doc_id")))
    kept.select(col("doc_id"), col("cluster"), col("split"))
      .join(packed, Seq("doc_id"))
      .join(order, Seq("doc_id"), "left")
      .orderBy(asc_nulls_first("split"), asc_nulls_first("shard"),
        asc_nulls_first("bin"), asc_nulls_first("doc_id"))
  }

  /** q132: the capstone over the planted corpus. Rows-only by design —
    * the composed output has no closed-form SQL twin (LSH banding + CC +
    * greedy packing), but EVERY stage is individually under the oracle
    * (q24-26/q93 LSH+verify, q82/q130 components, q119 split, q106
    * packing, q112 order) and PipelineSpec pins the join invariants. */
  private val q132 = Q(
    "q132_training_shards",
    (s, dir) => trainingShards(s, plantedCorpus(s, dir), 0.8, 4096L),
    None,
    "capstone: dedup -> component-keyed split -> shard packing -> global train order, one composed job")

  /** q209: [[trainingShards]]' exact composition — dedup → component-
    * keyed split → per-shard packing → global train order — with every
    * stage in arithmetic DuckDB replays, so the END-TO-END corpus→shards
    * answer sits under the hash gate (q132 itself composes xxhash64
    * MinHash and stays rows-only forever). Stage-for-stage:
    *
    *   1. [[Dedup.dedupPipelineExact]] — the q206 mod-p pair kernel +
    *      q208 components (same code path the q208 twin gates);
    *   2. component-keyed 80/10/10 split via the q112 mix constants
    *      ((component·1315423911) mod 1048573 mod 10) — replayable where
    *      q132's xxhash64(cluster) is engine-opaque, same leakage-safety
    *      argument (no dedup component straddles train/eval);
    *   3. [[graft.ops.TextOps.packBySource]] on shard = split|source —
    *      the exact greedy recurrence the q106 recursive CTE replays;
    *   4. [[graft.ops.Analytics.globalShufflePositions]] over the train
    *      split — the q112 two-level order, replayed as the straight
    *      global row_number.
    *
    * The oracle chains the q208 component CTEs with the q106 packing CTE
    * and the q112 order window — one WITH RECURSIVE replaying the whole
    * pipeline. Scale shape identical to q132 (see class doc): flags are
    * components-sized, the split is a map-side projection, packing
    * shuffles (shard, id, size) triples, the order join is id↔id. */
  def trainingShardsExact(s: SparkSession, docs: DataFrame): DataFrame = {
    val flags = Dedup.dedupPipelineExact(s, docs.select(col("doc_id"), col("text")))
    val bucket = col("component") * lit(1315423911L) % lit(1048573L) % lit(10L)
    val kept = docs.select(col("doc_id"), col("source"), col("n_chars"))
      .join(flags.filter(col("keep")).select(col("doc_id"), col("component")), Seq("doc_id"))
      .withColumn("split",
        when(bucket < 8, "train").when(bucket === 8, "val").otherwise("test"))
    val packed = graft.ops.TextOps.packBySource(s,
        kept.select(concat(col("split"), lit("|"), col("source")).as("source"),
          col("doc_id"), col("n_chars")), 4096L)
      .select(col("source").as("shard"), col("doc_id"), col("bin"), col("bin_fill"))
    val order = graft.ops.Analytics.globalShufflePositions(
      kept.filter(col("split") === "train").select(col("doc_id")))
    kept.select(col("doc_id"), col("component"), col("split"))
      .join(packed, Seq("doc_id"))
      .join(order, Seq("doc_id"), "left")
      .select(col("doc_id"), col("component"), col("split"), col("shard"),
        col("bin"), col("bin_fill"), col("pos"))
      .orderBy(asc_nulls_first("doc_id"))
  }

  private def q209OracleSql: String =
    s"""WITH RECURSIVE ${Dedup.dedupCompCtes},
      kept AS MATERIALIZED (
        SELECT d.doc_id, d.source, d.n_chars, c.component,
               CASE WHEN ((c.component * 1315423911) % 1048573) % 10 < 8 THEN 'train'
                    WHEN ((c.component * 1315423911) % 1048573) % 10 = 8 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents d
        JOIN comp c ON c.doc_id = d.doc_id AND c.doc_id = c.component),
      -- MATERIALIZED: p's recursive term joins sh once per packing step;
      -- inlined, the window (and the dedup chain under kept) would
      -- re-evaluate at every iteration — the sf1 oracle went from
      -- >30 min to seconds with these pinned
      sh AS MATERIALIZED (
        SELECT doc_id, split, component, n_chars,
               split || '|' || source AS shard,
               row_number() OVER (PARTITION BY split || '|' || source
                                  ORDER BY doc_id ASC) AS rn
        FROM kept),
      p AS (
        SELECT shard, rn, doc_id, CAST(1 AS BIGINT) AS bin, n_chars AS fill
        FROM sh WHERE rn = 1
        UNION ALL
        SELECT s.shard, s.rn, s.doc_id,
               CASE WHEN p.fill + s.n_chars > 4096 THEN p.bin + 1 ELSE p.bin END,
               CASE WHEN p.fill + s.n_chars > 4096 THEN s.n_chars ELSE p.fill + s.n_chars END
        FROM p JOIN sh s ON s.shard = p.shard AND s.rn = p.rn + 1),
      ord AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY (doc_id * 1315423911) % 1048573 ASC,
                                           doc_id ASC) - 1 AS pos
        FROM kept WHERE split = 'train')
      SELECT k.doc_id, k.component, k.split, p.shard, p.bin,
             p.fill AS bin_fill, o.pos
      FROM kept k
      JOIN p ON p.doc_id = k.doc_id
      LEFT JOIN ord o ON o.doc_id = k.doc_id
      ORDER BY k.doc_id ASC NULLS FIRST"""

  private val q209 = Q(
    "q209_training_shards_oracle",
    (s, dir) => trainingShardsExact(s, T(s, dir, "documents")),
    Some(q209OracleSql),
    "training-shards capstone twin: q208 mod-p dedup -> component-keyed split -> q106 packing CTE -> q112 order replay, the corpus-to-shards path end-to-end under the hash gate")

  val all: Seq[Q] = Seq(q132, q209)
}
