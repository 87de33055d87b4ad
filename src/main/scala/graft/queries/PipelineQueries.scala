package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.text.TextOps

/** Pipeline-glue operator coverage: array/set ops (T2), job expansion
  * (J5 + W2/W3 windows), JSONP + schema'd JSON parse (O15 complete), and
  * binary-column (multimodal) plumbing. */
object PipelineQueries {

  type Q = (SparkSession, String) => DataFrame

  /** T2: array_intersect/union/except over per-doc token halves, plus a
    * sorted join for exact cross-engine comparison. */
  val q25ArrayOps: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
    val toks = TextOps.tokens(col("text"))
    val h = (size(toks) / 2).cast("int")
    d.select(col("doc_id"),
        array_distinct(slice(toks, lit(1), h)).as("t1"),
        array_distinct(slice(toks, h + 1, size(toks) - h)).as("t2"))
      .select(col("doc_id"),
        size(array_intersect(col("t1"), col("t2"))).as("n_common"),
        size(array_union(col("t1"), col("t2"))).as("n_all"),
        size(array_except(col("t1"), col("t2"))).as("n_only_first"),
        array_join(array_sort(array_intersect(col("t1"), col("t2"))), ",").as("common_sorted"))
      .orderBy("doc_id")
  }

  /** J5 + W2: job expansion — sources × 168 hourly windows (7-day scrape
    * horizon, `workqueue_setup.py:77-89`), with window boundaries. */
  val q26JobExpansion: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
    val sources = d.select(col("source")).distinct()
    val base = lit("2024-01-01 00:00:00").cast("timestamp")
    sources
      .crossJoin(s.range(0, 168).select(col("id").cast("int").as("offset_hr")))
      .select(
        concat(col("source"), lit(":"), col("offset_hr")).as("job_id"),
        col("source"), col("offset_hr"),
        (base + make_dt_interval(lit(0), col("offset_hr"))).as("window_start"),
        (base + make_dt_interval(lit(0), col("offset_hr") + 1)).as("window_end"))
      .orderBy("source", "offset_hr")
  }

  /** O15 complete: JSONP wrapper strip + schema'd from_json (the round-1
    * verdict called out the missing from_json half). */
  val q27JsonpParse: Q = (s, dir) => {
    val ev = Tables(s, dir, "events")
    val wrapped = concat(lit("cb("), col("props"), lit(");"))
    val schema = StructType(Seq(StructField("k", IntegerType)))
    ev.select(col("event_type"),
        from_json(TextOps.jsonpStrip(wrapped), schema).getField("k").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("k") > 50, 1).otherwise(0)).as("n_high"),
        max("k").as("max_k"))
      .orderBy("event_type")
  }

  /** Multimodal plumbing: treat text bytes as an opaque binary payload and
    * compute typed features (byte length, content digest, prefix sample) —
    * the schema/partitioning shape of an image/audio pipeline with the
    * decode swapped for deterministic byte ops (real decoders: see
    * graft.multimodal.Multimodal). */
  val q28BinaryFeatures: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
    val payload = col("text").cast("binary")
    d.select(col("source"),
        length(payload).as("n_bytes"),
        md5(payload).as("digest"),
        base64(substring(col("text"), 1, 8).cast("binary")).as("prefix_b64"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_bytes").as("total_bytes"),
        countDistinct("digest").as("n_distinct"),
        min("prefix_b64").as("min_prefix"))
      .orderBy("source")
  }

  /** Multimodal frame sampling: each payload is treated as a clip whose
    * duration derives from its byte length; one frame is sampled per
    * second (explode over a sequence — scan-side, zero shuffle until the
    * final rollup) and per-frame features derive from (content digest,
    * frame index). This is the sampling half of a video pipeline with
    * the codec swapped for deterministic byte math (real decoders:
    * `multimodal/Multimodal.scala`, same batch shape). */
  val q81FrameSample: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
    val frames = d.select(col("source"), col("doc_id"),
        md5(col("text").cast("binary")).as("digest"),
        (length(col("text").cast("binary")) * 40L).as("duration_ms"))
      .select(col("source"), col("doc_id"), col("digest"),
        explode(sequence(lit(0L), (col("duration_ms") / 1000L).cast("long")))
          .as("frame_idx"))
      .withColumn("fval",
        TextOps.md5Int32(concat(col("digest"), lit(":"), col("frame_idx"))))
    frames.groupBy("source")
      .agg(countDistinct(col("doc_id")).as("n_media"),
        count(lit(1)).as("total_frames"),
        round(avg(col("fval")), 4).as("avg_feature"),
        countDistinct(col("fval")).as("n_distinct_features"))
      .orderBy("source")
  }

  /** Q8/K1 exactly-once EFFECT, driver-certified end-to-end: stream the
    * documents table through `foreachBatch` + `Sinks.idempotentAppend`,
    * then run the ENTIRE stream a second time from a fresh checkpoint —
    * the strongest at-least-once redelivery (every batch delivered
    * twice). The sink is a dynamic-partition overwrite keyed by the
    * batch's PROVENANCE unit — the source file (`_metadata.file_name`)
    * — which is simultaneously redelivery-stable (the same rows always
    * land in the same partitions, so a redelivered batch replaces
    * itself) and batch-DISJOINT (a file-source micro-batch is a set of
    * whole files, so two different batches never write the same
    * partition). A content key like pmod(doc_id, N) has the first
    * property but NOT the second: the moment the stream splits into
    * several micro-batches (maxFilesPerTrigger, a large corpus), each
    * batch's dynamic overwrite would delete the previous batches' rows
    * in the shared partitions. Reading the sink back and aggregating
    * must equal plain batch aggregation over the input — which is
    * exactly what the DuckDB oracle checks (SURVEY §7.4's
    * "at-least-once + idempotent sink = exactly-once"). */
  val q86ExactlyOnce: Q = (s, dir) => {
    import org.apache.spark.sql.streaming.Trigger
    // keyed by CONTENT, private to this application and deleted when it
    // ends: re-running IS more redelivery, which the idempotent sink is
    // certified to absorb, but a REGENERATED corpus must get a fresh sink
    // (stale part=N partitions from the old corpus would otherwise
    // survive into the aggregate — see KeyedWorkDir), and another process
    // must never share it (the checkpoints are deleted at the end, the
    // q167/q147 hygiene pattern)
    val tmp = KeyedWorkDir.runKeyed(s, "q86", dir, "documents", "L2")
    val out = s"$tmp/sink"
    def deliverAll(run: String): Unit = {
      val q = Tables.stream(s, dir, "documents")
        .select(col("*"),
          // the provenance partition key — see the scaladoc; selected on
          // the stream (metadata columns live on the file relation)
          col("_metadata.file_name").as("part"))
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          graft.sinks.Sinks.idempotentAppend(batch, out, Seq("part"))
        }
        .option("checkpointLocation", s"$tmp/ckpt-$run-${System.nanoTime()}")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    deliverAll("first")
    deliverAll("redelivery")
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(tmp)).map(_.getPath)
      .filter(_.getName.startsWith("ckpt-"))
      .foreach(p => fs.delete(p, true))
    s.read.parquet(out)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("doc_id")).as("n_distinct"))
      .orderBy("source")
  }

  /** SCD2 dimension historization over customer: one merge batch
    * covering all four cases — %7==0 changed (close + reopen), %7==3
    * no-op update, %50==0 brand-new key, everything else untouched.
    * See `sinks/Scd2`. */
  val q96Scd2: Q = (s, dir) => {
    val c = Tables(s, dir, "customer")
    val base = c.select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
      col("c_mktsegment"),
      lit("2024-01-01").as("valid_from"), lit(null).cast("string").as("valid_to"),
      lit(true).as("is_current"))
    val upd = c.filter(col("c_custkey") % 7 === 0)
        .select(col("c_custkey"), col("c_nationkey"),
          (col("c_acctbal") + 100).as("c_acctbal"),
          lit("MOVED").as("c_mktsegment"), lit("2024-06-01").as("eff"))
      .unionByName(c.filter(col("c_custkey") % 7 === 3)
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
          col("c_mktsegment"), lit("2024-06-01").as("eff")))
      .unionByName(c.filter(col("c_custkey") % 50 === 0)
        .select((col("c_custkey") + 100000).as("c_custkey"), col("c_nationkey"),
          col("c_acctbal"), lit("NEW").as("c_mktsegment"), lit("2024-06-01").as("eff")))
    graft.sinks.Scd2.merge(base, upd, "c_custkey",
        Seq("c_nationkey", "c_acctbal", "c_mktsegment"), "eff")
      .orderBy("c_custkey", "valid_from")
  }

  /** CDC changelog by snapshot diff over customer: the "new" dump
    * deterministically mutates the base — %7==0 changed (U), %13==0
    * dropped (D, and delete wins over change on keys like 91), %50==0
    * re-keyed +100000 (I). See `sinks/Cdc` — the discovery complement
    * of q96's SCD2 apply; output is change-sized, never dump-sized. */
  val q110CdcDiff: Q = (s, dir) => {
    val c = Tables(s, dir, "customer")
    val attrs = Seq("c_nationkey", "c_acctbal", "c_mktsegment")
    val oldSnap = c.select(col("c_custkey") +: attrs.map(col): _*)
    val newSnap = c.filter(col("c_custkey") % 13 =!= 0)
      .select(col("c_custkey"), col("c_nationkey"),
        when(col("c_custkey") % 7 === 0, col("c_acctbal") + 100)
          .otherwise(col("c_acctbal")).as("c_acctbal"),
        when(col("c_custkey") % 7 === 0, lit("MOVED"))
          .otherwise(col("c_mktsegment")).as("c_mktsegment"))
      .unionByName(c.filter(col("c_custkey") % 50 === 0)
        .select((col("c_custkey") + 100000).as("c_custkey"),
          col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")))
    graft.sinks.Cdc.snapshotDiff(oldSnap, newSnap, "c_custkey", attrs)
      .orderBy("c_custkey")
  }

  val defs: Map[String, Q] = Map(
    "q110_cdc_diff" -> q110CdcDiff,
    "q96_scd2" -> q96Scd2,
    "q81_frame_sample" -> q81FrameSample,
    "q25_array_ops" -> q25ArrayOps,
    "q26_job_expansion" -> q26JobExpansion,
    "q27_jsonp_parse" -> q27JsonpParse,
    "q28_binary_features" -> q28BinaryFeatures,
    "q86_exactly_once" -> q86ExactlyOnce,
  )

  val oracles: Map[String, String] = Map(
    "q110_cdc_diff" ->
      """WITH old AS (SELECT c_custkey, c_nationkey, c_acctbal, c_mktsegment
           FROM customer),
         new AS (
           SELECT c_custkey, c_nationkey,
             CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100 ELSE c_acctbal END AS c_acctbal,
             CASE WHEN c_custkey % 7 = 0 THEN 'MOVED' ELSE c_mktsegment END AS c_mktsegment
           FROM customer WHERE c_custkey % 13 <> 0
           UNION ALL
           SELECT c_custkey + 100000, c_nationkey, c_acctbal, c_mktsegment
           FROM customer WHERE c_custkey % 50 = 0)
         SELECT COALESCE(o.c_custkey, n.c_custkey) AS c_custkey,
           CASE WHEN o.c_custkey IS NULL THEN 'I'
                WHEN n.c_custkey IS NULL THEN 'D'
                WHEN NOT (o.c_nationkey IS NOT DISTINCT FROM n.c_nationkey
                      AND o.c_acctbal   IS NOT DISTINCT FROM n.c_acctbal
                      AND o.c_mktsegment IS NOT DISTINCT FROM n.c_mktsegment)
                THEN 'U' END AS op,
           o.c_nationkey AS old_c_nationkey, o.c_acctbal AS old_c_acctbal,
           o.c_mktsegment AS old_c_mktsegment,
           n.c_nationkey AS new_c_nationkey, n.c_acctbal AS new_c_acctbal,
           n.c_mktsegment AS new_c_mktsegment
         FROM old o FULL JOIN new n ON o.c_custkey = n.c_custkey
         WHERE CASE WHEN o.c_custkey IS NULL THEN 'I'
                WHEN n.c_custkey IS NULL THEN 'D'
                WHEN NOT (o.c_nationkey IS NOT DISTINCT FROM n.c_nationkey
                      AND o.c_acctbal   IS NOT DISTINCT FROM n.c_acctbal
                      AND o.c_mktsegment IS NOT DISTINCT FROM n.c_mktsegment)
                THEN 'U' END IS NOT NULL
         ORDER BY 1""",
    "q96_scd2" ->
      """WITH base AS (SELECT c_custkey, c_nationkey, c_acctbal, c_mktsegment,
             '2024-01-01' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to,
             TRUE AS is_current
           FROM customer),
         upd AS (
           SELECT c_custkey, c_nationkey, c_acctbal + 100 AS c_acctbal,
             'MOVED' AS c_mktsegment, '2024-06-01' AS eff
           FROM customer WHERE c_custkey % 7 = 0
           UNION ALL
           SELECT c_custkey, c_nationkey, c_acctbal, c_mktsegment, '2024-06-01'
           FROM customer WHERE c_custkey % 7 = 3
           UNION ALL
           SELECT c_custkey + 100000, c_nationkey, c_acctbal, 'NEW', '2024-06-01'
           FROM customer WHERE c_custkey % 50 = 0),
         m AS (SELECT c_custkey,
             b.c_nationkey AS bn, b.c_acctbal AS ba, b.c_mktsegment AS bm,
             b.valid_from AS bvf, b.valid_to AS bvt,
             u.c_nationkey AS un, u.c_acctbal AS ua, u.c_mktsegment AS um, u.eff,
             b.valid_from IS NOT NULL AS cur_exists,
             u.eff IS NOT NULL AS upd_exists,
             NOT (b.c_nationkey IS NOT DISTINCT FROM u.c_nationkey
              AND b.c_acctbal IS NOT DISTINCT FROM u.c_acctbal
              AND b.c_mktsegment IS NOT DISTINCT FROM u.c_mktsegment) AS changed
           FROM base b FULL JOIN upd u USING (c_custkey)),
         fromcur AS (SELECT c_custkey, bn AS c_nationkey, ba AS c_acctbal,
             bm AS c_mktsegment, bvf AS valid_from,
             CASE WHEN upd_exists AND changed THEN eff ELSE bvt END AS valid_to,
             NOT (upd_exists AND changed) AS is_current
           FROM m WHERE cur_exists),
         fromupd AS (SELECT c_custkey, un AS c_nationkey, ua AS c_acctbal,
             um AS c_mktsegment, eff AS valid_from,
             CAST(NULL AS VARCHAR) AS valid_to, TRUE AS is_current
           FROM m WHERE upd_exists AND (NOT cur_exists OR changed))
         SELECT * FROM fromcur UNION ALL SELECT * FROM fromupd
         ORDER BY c_custkey, valid_from""",
    // integer frame count (bytes*40 ms, 1 fps), md5-derived frame values;
    // avg over <2^53-bounded integer sums is exact in both engines
    "q81_frame_sample" ->
      """WITH m AS (SELECT source, doc_id, md5(text) AS digest,
             octet_length(encode(text)) * 40 AS duration_ms
           FROM documents),
         idx AS (SELECT source, doc_id, digest,
                   unnest(range(0, duration_ms // 1000 + 1)) AS i
                 FROM m),
         f AS (SELECT source, doc_id,
             CAST(('0x' || substr(md5(digest || ':' || CAST(i AS VARCHAR)), 1, 8))
               AS BIGINT) AS fval
           FROM idx)
         SELECT source, count(DISTINCT doc_id) AS n_media,
           count(*) AS total_frames,
           round(avg(fval), 4) AS avg_feature,
           count(DISTINCT fval) AS n_distinct_features
         FROM f GROUP BY 1 ORDER BY 1""",
    "q25_array_ops" ->
      """WITH t AS (SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS ws
           FROM documents),
         halves AS (SELECT doc_id,
             list_distinct(ws[1 : len(ws) // 2]) AS t1,
             list_distinct(ws[len(ws) // 2 + 1 : len(ws)]) AS t2
           FROM t)
         SELECT doc_id,
           CAST(len(list_intersect(t1, t2)) AS INT) AS n_common,
           CAST(len(list_distinct(list_concat(t1, t2))) AS INT) AS n_all,
           CAST(len(list_filter(t1, x -> NOT list_contains(t2, x))) AS INT) AS n_only_first,
           coalesce(array_to_string(list_sort(list_intersect(t1, t2)), ','), '') AS common_sorted
         FROM halves ORDER BY doc_id""",
    "q26_job_expansion" ->
      """SELECT s.source || ':' || h.range AS job_id, s.source,
           CAST(h.range AS INT) AS offset_hr,
           TIMESTAMP '2024-01-01 00:00:00' + h.range * INTERVAL 1 HOUR AS window_start,
           TIMESTAMP '2024-01-01 00:00:00' + (h.range + 1) * INTERVAL 1 HOUR AS window_end
         FROM (SELECT DISTINCT source FROM documents) s, range(0, 168) h
         ORDER BY s.source, h.range""",
    "q27_jsonp_parse" ->
      """WITH p AS (SELECT event_type,
             CAST(json_extract_string(
               regexp_extract('cb(' || props || ');', '(?s)^[^(]*\((.*)\)[\s;]*$', 1),
               '$.k') AS INTEGER) AS k
           FROM events)
         SELECT event_type, count(*) AS cnt,
           CAST(sum(CASE WHEN k > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
           max(k) AS max_k
         FROM p GROUP BY 1 ORDER BY 1""",
    "q28_binary_features" ->
      """WITH b AS (SELECT source, octet_length(encode(text)) AS n_bytes,
             md5(text) AS digest, to_base64(encode(text[1:8])) AS prefix_b64
           FROM documents)
         SELECT source, count(*) AS n_docs,
           CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
           count(DISTINCT digest) AS n_distinct,
           min(prefix_b64) AS min_prefix
         FROM b GROUP BY 1 ORDER BY 1""",
    // The sink after a FULL redelivery must hold each document exactly
    // once — i.e. match plain batch aggregation over the input table.
    "q86_exactly_once" ->
      """SELECT source, count(*) AS n_docs,
           count(DISTINCT doc_id) AS n_distinct
         FROM documents GROUP BY 1 ORDER BY 1""",
  )
}
