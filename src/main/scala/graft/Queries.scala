package graft

import graft.api.FuzzyPipeline
import graft.conf.FuzzyConf
import graft.stage.SmallInput
import graft.sql.{functions => gf}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The driver-facing operator inventory (SURVEY.md §2): every operator the
  * reference exposes — plus the scale-path signature/dedup operators and the
  * training-data-pipeline operators — as named queries over the driver's
  * parquet tables, each with an equivalent DuckDB SQL oracle.
  *
  * Oracle-parity rules (hash compare is exact):
  *  - float outputs are produced by EXACT integer/decimal aggregation first
  *    (integer dots, integer squared magnitudes, decimal(18,2) money sums)
  *    and only then divided/sqrt'd/rounded — bit-identical on both engines;
  *  - every query ORDER BYs on a deterministic unique key;
  *  - hashes are the portable md5-prefix family (graft.sql.functions),
  *    reproducible in DuckDB as ('0x'||substr(md5(x),1,15))::BIGINT;
  *  - the ASCII char class [^a-z0-9 ,] in oracle SQL equals the engine's
  *    Unicode normText on this all-ASCII corpus (FunctionsSpec pins the
  *    Unicode behavior; OracleParitySpec pins the ASCII equivalence).
  */
object Queries {

  private val P = gf.HashP // 1000000007

  /** Temp state root for queries that stage small state tables (q_upsert,
    * q_stream_dedup), deleted on JVM exit: the returned frames stay lazy
    * over the staged parquet, so the files must outlive the query call,
    * but repeated Verify/Bench iterations must not accumulate them under
    * /tmp. ONE shared shutdown hook drains a concurrent queue of created
    * dirs — per-invocation hooks would grow a Thread per query call in a
    * long-lived interactive JVM.
    */
  private val tempStateDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]
  locally {
    sys.addShutdownHook {
      var p = tempStateDirs.poll()
      while (p != null) {
        graft.io.TableIO.deleteRecursively(p)
        p = tempStateDirs.poll()
      }
    }: Unit
  }
  private def tempStateDir(prefix: String): java.nio.file.Path = {
    // stage state on the same local-scratch tmpfs the bench session already
    // routes shuffle/spill files to (Bench.scala: the sandbox's /tmp sits on
    // a throttled virtual disk whose writeback stalls distort timings; a
    // real cluster's local NVMe + page cache behaves like tmpfs) — these
    // queries re-write their small state tables several times per run, so
    // the state churn belongs on the same medium as shuffle scratch. Falls
    // back to the JVM temp dir when the scratch root is unavailable.
    val dir =
      try {
        val base = java.nio.file.Paths.get(
          sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/graft-spark-local"), "qstate")
        java.nio.file.Files.createDirectories(base)
        java.nio.file.Files.createTempDirectory(base, prefix)
      } catch {
        case scala.util.control.NonFatal(_) => java.nio.file.Files.createTempDirectory(prefix)
      }
    tempStateDirs.add(dir): Unit
    dir
  }

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** Spread a COMPUTE-DENSE but byte-small table over cluster width with an
    * explicit round-robin exchange (guide §2.5: AQE sizes partitions by
    * bytes; these tables feed per-row kernels — md5 per gram, join fanout
    * over a dense trigram vocabulary — whose CPU dwarfs their bytes, so
    * size-based coalescing serializes whole stages onto 1-2 tasks; measured
    * 17-33 s single-task stages on sf0.1). Gated by [[SmallInput]]: inputs
    * past it (real corpora) are returned unchanged, so the exchange's cost
    * stays bounded and no corpus-scale scan is ever repartitioned. Results
    * are unaffected: every consumer aggregates order-free (integer sums,
    * min, count) per the oracle-parity rules.
    */
  private def spreadSmall(df: DataFrame): DataFrame =
    if (SmallInput(df)) df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    else df

  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")
  private def li(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/lineitem.parquet")

  // ---- shared SQL fragments (DuckDB) -------------------------------------

  /** normalized, hyphen-enclosed text (reference `grams` input). */
  private val sqlNorm =
    "'-'||regexp_replace(lower(text),'[^a-z0-9 ,]','','g')||'-'"

  /** gram CTEs for size n over `documents`: cg_n = per-doc gram counts,
    * cn_n = per-doc magnitude.
    */
  private def sqlGramCtes(n: Int, corpusFilter: String = ""): String =
    s"""corpus$n as (select doc_id, $sqlNorm as s from documents $corpusFilter),
       |cg$n as (select doc_id, substr(s,i,$n) as gram, count(*)::BIGINT as cnt
       |         from corpus$n, unnest(range(1, length(s)-${n - 2})) u(i) group by 1,2),
       |cn$n as (select doc_id, sqrt(sum(cnt*cnt)) as mag from cg$n group by 1)""".stripMargin

  /** Per-probe find pass at size n in SQL: cosine via gram join, top-50 by
    * (cosine desc, key), Levenshtein rerank, filter >= 0.33. Expects CTEs
    * keys(doc_id, key, text), probes(query_id, qkey), qg_n/qn_n for the
    * probe grams. Emits found_n(query_id, score, matched, gram_size).
    */
  private def sqlFindPass(n: Int, probeGuard: String): String =
    s"""qg$n as (select query_id, substr(qs,i,$n) as gram, count(*)::BIGINT as cnt
       |         from probes, unnest(range(1, length(qs)-${n - 2})) u(i)
       |         $probeGuard group by 1,2),
       |qn$n as (select query_id, sqrt(sum(cnt*cnt)) as mag from qg$n group by 1),
       |dot$n as (select query_id, doc_id, sum(q.cnt*c.cnt)::BIGINT as dot
       |          from qg$n q join cg$n c using (gram) group by 1,2),
       |cos$n as (select d.query_id, d.doc_id, k.key, k.text,
       |                 d.dot/(q.mag*c.mag) as cosine
       |          from dot$n d join qn$n q using (query_id) join cn$n c using (doc_id)
       |          join keys k using (doc_id) where q.mag > 0 and c.mag > 0),
       |rk$n as (select *, row_number() over (partition by query_id
       |                 order by cosine desc, key) as rn from cos$n),
       |lv$n as (select r.query_id, r.doc_id, r.text,
       |                1.0 - levenshtein(p.qkey, r.key)::DOUBLE/greatest(length(p.qkey), length(r.key))
       |                  as score
       |         from rk$n r join probes p using (query_id) where r.rn <= 50),
       |found$n as (select query_id, score, text as matched, $n as gram_size
       |            from lv$n where score >= 0.33)""".stripMargin

  // ---- the inventory ------------------------------------------------------

  /** name -> (query, oracleSql | null for rows-only). Order follows
    * SURVEY.md §2 operator numbering.
    */
  private val inventory: Seq[(String, (SparkSession, String) => DataFrame, String)] = Seq(

    // K1/K2 — normalization (Internal.hs:204-211) + sentinel enclosure
    ("q_normalize",
      (s, dir) =>
        docs(s, dir)
          .select(col("doc_id"), gf.enclosed(gf.normText(col("text"))).as("norm_text"))
          .orderBy("doc_id"),
      s"select doc_id, $sqlNorm as norm_text from documents order by doc_id"),

    // The SQL surface (graft.sql.GraftExtensions): the same kernels reached
    // through spark.sql + registered graft_* functions instead of the
    // Column API — pins that a SQL-only caller (Connect/Thrift/notebook)
    // computes exactly what the Scala API computes, against the same
    // DuckDB oracle forms the Column-API queries use. ASCII-corpus parity
    // assumptions match q_normalize's.
    ("q_sql_surface",
      (s, dir) => {
        graft.sql.GraftExtensions.register(s)
        docs(s, dir).createOrReplaceTempView("graft_sql_docs")
        s.sql(
          """SELECT doc_id,
            |       concat('-', graft_norm_text(text), '-') AS norm_text,
            |       size(graft_shingles(text, 3)) AS n_grams3,
            |       graft_lev_norm_sim(text, lower(text)) AS case_sim
            |FROM graft_sql_docs ORDER BY doc_id""".stripMargin)
      },
      s"""select doc_id, $sqlNorm as norm_text,
         |  (length($sqlNorm) - 2)::INTEGER as n_grams3,
         |  case when length(text) = 0 then 1.0
         |       else 1.0 - levenshtein(text, lower(text))::DOUBLE / length(text)
         |  end as case_sim
         |from documents order by doc_id""".stripMargin),

    // K3/K4 — positional n-gram extraction (Internal.hs:191-197)
    ("q_grams3",
      (s, dir) =>
        docs(s, dir)
          .filter(col("doc_id") < 50)
          .select(col("doc_id"), posexplode(gf.shingles(col("text"), 3)).as(Seq("pos", "gram")))
          .orderBy("doc_id", "pos"),
      s"""with corpus as (select doc_id, $sqlNorm as s from documents where doc_id < 50)
         |select doc_id, (i-1)::INTEGER as pos, substr(s,i,3) as gram
         |from corpus, unnest(range(1, length(s)-1)) u(i) order by doc_id, pos""".stripMargin),

    // K5 — gramVector multiset counts (Internal.hs:161-164)
    ("q_gram_vector2",
      (s, dir) =>
        docs(s, dir)
          .filter(col("doc_id") < 20)
          .select(col("doc_id"), explode(gf.shingles(col("text"), 2)).as("gram"))
          .groupBy("doc_id", "gram")
          .agg(count(lit(1)).as("cnt"))
          .orderBy("doc_id", "gram"),
      s"""with corpus as (select doc_id, $sqlNorm as s from documents where doc_id < 20)
         |select doc_id, substr(s,i,2) as gram, count(*)::BIGINT as cnt
         |from corpus, unnest(range(1, length(s))) u(i)
         |group by 1,2 order by doc_id, gram""".stripMargin),

    // K6 — euclidean magnitudes per (item, gram size) (Internal.hs:225-226)
    ("q_gram_norms",
      (s, dir) => {
        val d = spreadSmall(docs(s, dir))
        val bySize = (2 to 3).map { n =>
          d.select(col("doc_id"), lit(n).as("gram_size"), explode(gf.shingles(col("text"), n)).as("gram"))
        }.reduce(_ unionByName _)
        bySize
          .groupBy("doc_id", "gram_size", "gram")
          .agg(count(lit(1)).as("cnt"))
          .groupBy("doc_id", "gram_size")
          .agg(round(sqrt(sum(col("cnt") * col("cnt"))), 6).as("magnitude"))
          .orderBy("doc_id", "gram_size")
      },
      s"""with corpus as (select doc_id, $sqlNorm as s from documents),
         |g as (select doc_id, n, substr(s,i,n) as gram, count(*) as cnt
         |      from corpus, unnest([2,3]) t(n), unnest(range(1, length(s)-n+2)) u(i)
         |      group by 1,2,3)
         |select doc_id, n::INTEGER as gram_size, round(sqrt(sum(cnt*cnt)),6) as magnitude
         |from g group by doc_id, n order by doc_id, gram_size""".stripMargin),

    // O1 stop-list stats — inverted-index document frequencies
    ("q_postings_df",
      (s, dir) =>
        spreadSmall(docs(s, dir))
          .select(col("doc_id"), explode(gf.shingles(col("text"), 3)).as("gram"))
          .distinct()
          .groupBy("gram")
          .agg(count(lit(1)).as("df"))
          .filter(col("df") >= 10)
          .orderBy("gram"),
      s"""with corpus as (select doc_id, $sqlNorm as s from documents),
         |g as (select distinct doc_id, substr(s,i,3) as gram
         |      from corpus, unnest(range(1, length(s)-1)) u(i))
         |select gram, count(*)::BIGINT as df from g group by gram
         |having count(*) >= 10 order by gram""".stripMargin),

    // K7 — sparse dot product via inverted-index equi-join (Internal.hs:67-74)
    ("q_matches_dot",
      (s, dir) => {
        val g = spreadSmall(spreadSmall(docs(s, dir))
          .select(col("doc_id"), explode(gf.shingles(col("text"), 3)).as("gram"))
          .groupBy("doc_id", "gram")
          .agg(count(lit(1)).as("cnt")))
        val q = g.filter(col("doc_id") % 50 === 0)
          .select(col("doc_id").as("query_id"), col("gram"), col("cnt").as("qcnt"))
        // probe grams are 2% of the corpus: broadcast so the corpus gram
        // table is never shuffled for the lookup join
        q.hint("broadcast").join(g, Seq("gram"))
          .groupBy(col("query_id"), col("doc_id").as("item_id"))
          .agg(sum(col("qcnt") * col("cnt")).as("dot"))
          .orderBy("query_id", "item_id")
      },
      s"""with ${sqlGramCtes(3)}
         |select q.doc_id as query_id, c.doc_id as item_id, sum(q.cnt*c.cnt)::BIGINT as dot
         |from cg3 q join cg3 c using (gram) where q.doc_id % 50 = 0
         |group by 1,2 order by query_id, item_id""".stripMargin),

    // K8 (cosine + top-k window, no rerank) — getMatches scoring core
    ("q_cosine_topk",
      (s, dir) => {
        val g = spreadSmall(spreadSmall(docs(s, dir))
          .select(col("doc_id"), explode(gf.shingles(col("text"), 3)).as("gram"))
          .groupBy("doc_id", "gram")
          .agg(count(lit(1)).as("cnt")))
        val nrm = g.groupBy("doc_id").agg(sqrt(sum(col("cnt") * col("cnt"))).as("mag"))
        val q = g.filter(col("doc_id") % 50 === 0)
          .select(col("doc_id").as("query_id"), col("gram"), col("cnt").as("qcnt"))
        val dots = q.hint("broadcast").join(g, Seq("gram"))
          .groupBy(col("query_id"), col("doc_id").as("item_id"))
          .agg(sum(col("qcnt") * col("cnt")).as("dot"))
        val cos = dots
          .join(nrm.select(col("doc_id").as("query_id"), col("mag").as("qmag")), Seq("query_id"))
          .join(nrm.select(col("doc_id").as("item_id"), col("mag").as("imag")), Seq("item_id"))
          .withColumn("cosine", col("dot") / (col("qmag") * col("imag")))
        val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("item_id"))
        cos.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 10)
          .select(col("query_id"), col("item_id"), round(col("cosine"), 6).as("cosine"))
          .orderBy("query_id", "item_id")
      },
      s"""with ${sqlGramCtes(3)},
         |dots as (select q.doc_id as query_id, c.doc_id as item_id, sum(q.cnt*c.cnt)::BIGINT as dot
         |         from cg3 q join cg3 c using (gram) where q.doc_id % 50 = 0 group by 1,2),
         |cos as (select query_id, item_id, dot/(a.mag*b.mag) as cosine
         |        from dots join cn3 a on a.doc_id = query_id join cn3 b on b.doc_id = item_id),
         |rk as (select *, row_number() over (partition by query_id order by cosine desc, item_id) as rn
         |       from cos)
         |select query_id, item_id, round(cosine,6) as cosine from rk where rn <= 10
         |order by query_id, item_id""".stripMargin),

    // K8+K9 — top-50 crowding cap then Levenshtein rerank (Internal.hs:87-93)
    ("q_lev_rerank",
      (s, dir) => {
        val d = docs(s, dir).select(col("doc_id"), lower(col("text")).as("key"))
        val g = spreadSmall(spreadSmall(docs(s, dir))
          .select(col("doc_id"), explode(gf.shingles(col("text"), 3)).as("gram"))
          .groupBy("doc_id", "gram")
          .agg(count(lit(1)).as("cnt")))
        val nrm = g.groupBy("doc_id").agg(sqrt(sum(col("cnt") * col("cnt"))).as("mag"))
        val q = g.filter(col("doc_id") % 50 === 0)
          .select(col("doc_id").as("query_id"), col("gram"), col("cnt").as("qcnt"))
        val dots = q.hint("broadcast").join(g, Seq("gram"))
          .groupBy(col("query_id"), col("doc_id").as("item_id"))
          .agg(sum(col("qcnt") * col("cnt")).as("dot"))
        val cos = dots
          .join(nrm.select(col("doc_id").as("query_id"), col("mag").as("qmag")), Seq("query_id"))
          .join(nrm.select(col("doc_id").as("item_id"), col("mag").as("imag")), Seq("item_id"))
          .withColumn("cosine", col("dot") / (col("qmag") * col("imag")))
          .join(d.select(col("doc_id").as("item_id"), col("key")), Seq("item_id"))
        // item_id as the final tiebreak: this query is per-DOC by design,
        // so exact-duplicate texts tie on BOTH cosine and key — without it
        // a tie split across the rank-50 boundary lets the two engines
        // keep different item_ids (the reference never ties: its set is
        // key-deduped at insert)
        val w = Window.partitionBy("query_id")
          .orderBy(col("cosine").desc, col("key"), col("item_id"))
        cos.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 50)
          .join(d.select(col("doc_id").as("query_id"), col("key").as("qkey")), Seq("query_id"))
          .withColumn("score", gf.levNormSim(col("qkey"), col("key")))
          .filter(col("score") >= 0.33)
          .select(col("query_id"), col("item_id"), round(col("score"), 6).as("score"))
          .orderBy("query_id", "item_id")
      },
      s"""with keys as (select doc_id, lower(text) as key from documents),
         |${sqlGramCtes(3)},
         |dots as (select q.doc_id as query_id, c.doc_id as item_id, sum(q.cnt*c.cnt)::BIGINT as dot
         |         from cg3 q join cg3 c using (gram) where q.doc_id % 50 = 0 group by 1,2),
         |cos as (select query_id, item_id, k.key, dot/(a.mag*b.mag) as cosine
         |        from dots join cn3 a on a.doc_id = query_id join cn3 b on b.doc_id = item_id
         |        join keys k on k.doc_id = item_id),
         |rk as (select *, row_number() over (partition by query_id
         |       order by cosine desc, key, item_id) as rn from cos),
         |lv as (select r.query_id, r.item_id,
         |              1.0 - levenshtein(q.key, r.key)::DOUBLE/greatest(length(q.key), length(r.key)) as score
         |       from rk r join keys q on q.doc_id = r.query_id where r.rn <= 50)
         |select query_id, item_id, round(score,6) as score from lv where score >= 0.33
         |order by query_id, item_id""".stripMargin),

    // S3-S8 — full findMin through the engine's FindStage (exact short-
    // circuit + size cascade + rerank); probes are perturbed corpus texts
    ("q_find",
      (s, dir) => {
        val d = docs(s, dir)
        // stop-list OFF (maxPostingsPerGram = 0): the DuckDB oracle models
        // the reference exactly and has no stop-list; at sf<=0.1 no gram's
        // df approaches the 10k default anyway, so this pins parity at ANY
        // corpus size instead of silently diverging past 10k df.
        // The oracle's keys CTE dedups documents to ITEMS (first writer
        // per lower(text), winner by STRING-min doc_id like IndexBuild's
        // cast) — the reference dedups at insert, so an exact-duplicate
        // doc must not score as a second match row (caught at sf0.1,
        // where a planted dup pair lands in one probe's top-50)
        val pipe = FuzzyPipeline(s, d, "doc_id", "text", FuzzyConf(maxPostingsPerGram = 0))
        val probes = d.filter(col("doc_id") % 50 === 0)
          .select(col("doc_id").cast("string").as("query_id"),
            concat(lower(col("text")), lit(" zz")).as("query"))
        pipe.findMin(0.33, probes)
          .select(col("query_id").cast("long").as("query_id"),
            round(col("score"), 6).as("score"), col("matched"), col("gram_size"))
          .orderBy("query_id", "matched")
      },
      s"""with keys as (select min(doc_id) as doc_id, lower(text) as key,
         |  min_by(text, doc_id::VARCHAR) as text
         |  from documents group by lower(text)),
         |probes as (select doc_id as query_id, lower(text)||' zz' as qkey,
         |  '-'||regexp_replace(lower(text)||' zz','[^a-z0-9 ,]','','g')||'-' as qs
         |  from documents where doc_id % 50 = 0),
         |${sqlGramCtes(3, "where doc_id in (select doc_id from keys)")},
         |${sqlGramCtes(2, "where doc_id in (select doc_id from keys)")},
         |${sqlFindPass(3, "")},
         |${sqlFindPass(2, "where query_id not in (select distinct query_id from found3)")}
         |select query_id, round(score,6) as score, matched, gram_size::INTEGER as gram_size
         |from (select * from found3 union all select * from found2)
         |order by query_id, matched""".stripMargin),

    // K10/K11/S16 — insert-time dedup on lower(text), first-writer-wins
    ("q_dedup_exact",
      (s, dir) =>
        docs(s, dir)
          .groupBy(lower(col("text")).as("key"))
          .agg(min("doc_id").as("item_id"), count(lit(1)).as("n_members"))
          .select("item_id", "n_members")
          .orderBy("item_id"),
      """select min(doc_id) as item_id, count(*)::BIGINT as n_members
        |from documents group by lower(text) order by item_id""".stripMargin),

    // K12/S13 — the incremental-add seam (TableIO.upsert = the iceberg
    // MERGE's parquet twin): two deterministic batches (even doc_ids, then
    // doc_ids divisible by 3) upserted into a fresh stage table; the result
    // is the table state, which must show first-writer-wins per key BOTH
    // across batches (a key present in batch 1 keeps its batch-1 winner
    // even when batch 2 carries a smaller doc_id) and within a batch (min
    // full row). The oracle is a full outer join preferring batch 1 — NOT
    // min over the union, which would let a later writer steal a key.
    ("q_upsert",
      (s, dir) => {
        val target = tempStateDir("graft_q_upsert_").resolve("items").toString
        def batch(filter: org.apache.spark.sql.Column) = docs(s, dir)
          .filter(filter)
          .select(col("doc_id"), lower(col("text")).as("key"))
        graft.io.TableIO.upsert(s, target, batch(col("doc_id") % 2 === 0), "key")
        graft.io.TableIO.upsert(s, target, batch(col("doc_id") % 3 === 0), "key")
        s.read.parquet(target)
          .select(col("key"), col("doc_id").as("winner_id"))
          .orderBy("key")
      },
      """with b1 as (select lower(text) as key, min(doc_id) as winner_id
        |            from documents where doc_id % 2 = 0 group by 1),
        |     b2 as (select lower(text) as key, min(doc_id) as winner_id
        |            from documents where doc_id % 3 = 0 group by 1)
        |select coalesce(b1.key, b2.key) as key,
        |       coalesce(b1.winner_id, b2.winner_id) as winner_id
        |from b1 full outer join b2 on b1.key = b2.key
        |order by key""".stripMargin),

    // Exact substring-containment pass (north rule's suffix-array pass),
    // contained keys on both sides of L=16: the raw corpus carries genuine
    // containments of long keys (planted near-dup docs); deterministic
    // 9/14-char prefix truncations of the first docs plant pairs whose
    // contained key is shorter than L (9 contained in 14 <= (L-1)/minRatio
    // at ratio 9/14 >= 0.5), which only the shorter windows find. Score is an
    // integer-length ratio divided then rounded — bit-identical on both
    // engines (parity rules above).
    ("q_substr_pairs",
      (s, dir) => {
        val base = docs(s, dir)
          .select(col("doc_id").cast("string").as("item_id"), lower(col("text")).as("key"))
        def pfx(n: Int) = docs(s, dir)
          .filter(col("doc_id") < 40)
          .select(concat(lit(s"p${n}_"), col("doc_id").cast("string")).as("item_id"),
            substring(lower(col("text")), 1, n).as("key"))
        val items = base.unionByName(pfx(14)).unionByName(pfx(9))
        graft.stage.Candidates
          .substringPairs(items, maxBucket = 100000)
          .select(col("a_id"), col("b_id"), col("kind"), round(col("score"), 6).as("score"))
          .orderBy("a_id", "b_id")
      },
      """with items as (
        |  select doc_id::VARCHAR as item_id, lower(text) as key from documents
        |  union all
        |  select 'p14_'||doc_id::VARCHAR, substr(lower(text),1,14) from documents where doc_id < 40
        |  union all
        |  select 'p9_'||doc_id::VARCHAR, substr(lower(text),1,9) from documents where doc_id < 40
        |)
        |select a.item_id as a_id, b.item_id as b_id, 'substr' as kind,
        |       round(length(a.key)*1.0/length(b.key), 6) as score
        |from items a join items b
        |  on length(a.key) < length(b.key) and position(a.key in b.key) > 0
        |where length(a.key)*1.0/length(b.key) >= 0.5
        |order by a_id, b_id""".stripMargin),

    // S15-S17 — inspection
    ("q_set_size",
      (s, dir) =>
        docs(s, dir).agg(countDistinct(lower(col("text"))).as("set_size")),
      "select count(distinct lower(text))::BIGINT as set_size from documents"),

    // MinHash signatures (portable double-hash family)
    ("q_minhash_sig",
      (s, dir) =>
        docs(s, dir)
          .filter(col("doc_id") < 10)
          .select(col("doc_id"),
            posexplode(gf.sigBandsFromKey(col("text"), 3, 16, 1, 1).getField("sig"))
              .as(Seq("k", "mh")))
          .orderBy("doc_id", "k"),
      s"""with corpus as (select doc_id, $sqlNorm as s from documents where doc_id < 10),
         |g as (select distinct doc_id, substr(s,i,3) as gram
         |      from corpus, unnest(range(1, length(s)-1)) u(i)),
         |hp as (select doc_id, (('0x'||substr(md5(gram),1,15))::BIGINT % $P) as h1,
         |               (('0x'||substr(md5(gram),17,15))::BIGINT % $P) as h2 from g)
         |select doc_id, k::INTEGER as k, min((h1 + k*h2) % $P)::BIGINT as mh
         |from hp, unnest(range(0,16)) t(k) group by doc_id, k order by doc_id, k""".stripMargin),

    // LSH band keys
    ("q_lsh_bands",
      (s, dir) =>
        docs(s, dir)
          .filter(col("doc_id") < 10)
          .select(col("doc_id"),
            explode(gf.bandKeys(
              gf.sigBandsFromKey(col("text"), 3, 32, 4, 8).getField("sig"), 4, 8)).as("band_key"))
          .orderBy("doc_id", "band_key"),
      s"""with corpus as (select doc_id, $sqlNorm as s from documents where doc_id < 10),
         |g as (select distinct doc_id, substr(s,i,3) as gram
         |      from corpus, unnest(range(1, length(s)-1)) u(i)),
         |hp as (select doc_id, (('0x'||substr(md5(gram),1,15))::BIGINT % $P) as h1,
         |               (('0x'||substr(md5(gram),17,15))::BIGINT % $P) as h2 from g),
         |sig as (select doc_id, k, min((h1 + k*h2) % $P) as mh
         |        from hp, unnest(range(0,32)) t(k) group by doc_id, k)
         |select doc_id, (k//8)::VARCHAR || ':' || string_agg(mh, ',' order by k) as band_key
         |from sig group by doc_id, k//8 order by doc_id, band_key""".stripMargin),

    // LSH candidate self-join (the O1 scale replacement): the signature
    // kernel's sig, 4 bands x 8 rows, self-joined per band. The join key is
    // the band's exact signature rows, like the oracle's band strings — the
    // kernel's 64-bit band token could collide and add a pair the oracle
    // never produces.
    ("q_lsh_pairs",
      (s, dir) => {
        val bands = spreadSmall(docs(s, dir))
          .select(col("doc_id"),
            gf.sigBandsFromKey(col("text"), 3, 32, 4, 8).getField("sig").as("sig"))
          .filter(col("sig").isNotNull)
          .select(col("doc_id"),
            posexplode(array((0 until 4).map(b => slice(col("sig"), b * 8 + 1, 8)): _*))
              .as(Seq("b", "bk")))
        val a = bands.select(col("b"), col("bk"), col("doc_id").as("a_id"))
        val bb = bands.select(col("b"), col("bk"), col("doc_id").as("b_id"))
        a.join(bb, Seq("b", "bk"))
          .filter(col("a_id") < col("b_id"))
          .select("a_id", "b_id")
          .distinct()
          .orderBy("a_id", "b_id")
      },
      s"""with corpus as (select doc_id, $sqlNorm as s from documents),
         |g as (select distinct doc_id, substr(s,i,3) as gram
         |      from corpus, unnest(range(1, length(s)-1)) u(i)),
         |hp as (select doc_id, (('0x'||substr(md5(gram),1,15))::BIGINT % $P) as h1,
         |               (('0x'||substr(md5(gram),17,15))::BIGINT % $P) as h2 from g),
         |sig as (select doc_id, k, min((h1 + k*h2) % $P) as mh
         |        from hp, unnest(range(0,32)) t(k) group by doc_id, k),
         |band as (select doc_id, (k//8) as b, string_agg(mh, ',' order by k) as bk
         |         from sig group by doc_id, k//8)
         |select distinct x.doc_id as a_id, y.doc_id as b_id
         |from band x join band y on x.b = y.b and x.bk = y.bk and x.doc_id < y.doc_id
         |order by a_id, b_id""".stripMargin),

    // SimHash 60-bit fingerprints (multiset-weighted)
    ("q_simhash",
      (s, dir) =>
        docs(s, dir)
          .filter(col("doc_id") < 20)
          .select(col("doc_id"),
            gf.sigBandsFromKey(col("text"), 3, 1, 1, 1).getField("simhash").as("simhash"))
          .orderBy("doc_id"),
      s"""with corpus as (select doc_id, $sqlNorm as s from documents where doc_id < 20),
         |hs as (select doc_id, ('0x'||substr(md5(substr(s,i,3)),1,15))::BIGINT as h
         |       from corpus, unnest(range(1, length(s)-1)) u(i)),
         |bits as (select doc_id, b, sum(case when (h % (1::BIGINT<<(b+1)::INTEGER)) >= (1::BIGINT<<b::INTEGER)
         |                                    then 1 else -1 end) as bal
         |         from hs, unnest(range(0,60)) t(b) group by doc_id, b)
         |select doc_id, sum(case when bal > 0 then (1::BIGINT<<b::INTEGER) else 0 end)::BIGINT as simhash
         |from bits group by doc_id order by doc_id""".stripMargin),

    // n-gram Jaccard between adjacent docs (near-dup measure)
    ("q_ngram_jaccard",
      (s, dir) => {
        val g = docs(s, dir)
          .select(col("doc_id"), explode(array_distinct(gf.shingles(col("text"), 3))).as("gram"))
        val sizes = g.groupBy("doc_id").agg(count(lit(1)).as("n"))
        val a = g.filter(col("doc_id") % 10 === 0).select(col("doc_id").as("a_id"), col("gram"))
        val b = g.select((col("doc_id") - 1).as("a_id"), col("doc_id").as("b_id"), col("gram"))
          .filter(col("a_id") % 10 === 0)
        val inter = a.join(b, Seq("a_id", "gram"))
          .groupBy("a_id", "b_id")
          .agg(count(lit(1)).as("inter"))
        inter
          .join(sizes.select(col("doc_id").as("a_id"), col("n").as("na")), Seq("a_id"))
          .join(sizes.select(col("doc_id").as("b_id"), col("n").as("nb")), Seq("b_id"))
          .select(col("a_id"), col("b_id"),
            round(col("inter") / (col("na") + col("nb") - col("inter")), 6).as("jaccard"))
          .orderBy("a_id")
      },
      s"""with corpus as (select doc_id, $sqlNorm as s from documents),
         |g as (select distinct doc_id, substr(s,i,3) as gram
         |      from corpus, unnest(range(1, length(s)-1)) u(i)),
         |sizes as (select doc_id, count(*) as n from g group by doc_id),
         |inter as (select a.doc_id as a_id, b.doc_id as b_id, count(*) as inter
         |          from g a join g b on a.gram = b.gram and b.doc_id = a.doc_id + 1
         |          where a.doc_id % 10 = 0 group by 1,2)
         |select a_id, b_id, round(inter/(na.n + nb.n - inter),6) as jaccard
         |from inter join sizes na on na.doc_id = a_id join sizes nb on nb.doc_id = b_id
         |order by a_id""".stripMargin),

    // ---- training-data text ops -----------------------------------------

    ("q_token_stats",
      (s, dir) =>
        docs(s, dir)
          .select(col("doc_id"),
            (length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1).as("n_tokens"),
            length(col("text")).as("n_chars"))
          .orderBy("doc_id"),
      """select doc_id,
        |  (length(text) - length(replace(text,' ','')) + 1)::INTEGER as n_tokens,
        |  length(text)::INTEGER as n_chars
        |from documents order by doc_id""".stripMargin),

    ("q_quality",
      (s, dir) =>
        docs(s, dir)
          .withColumn("toks", split(col("text"), " "))
          .select(
            col("doc_id"),
            size(filter(col("toks"), w => w.isin("the", "a", "of", "and"))).as("stopword_cnt"),
            round((length(col("text")) - length(regexp_replace(col("text"), " ", "")))
              .cast("double") / length(col("text")), 6).as("space_ratio"),
            round(length(regexp_replace(col("text"), " ", "")).cast("double")
              / size(col("toks")), 6).as("avg_tok_len"))
          .orderBy("doc_id"),
      """select doc_id,
        |  len(list_filter(string_split(text,' '), w -> w in ('the','a','of','and')))::INTEGER as stopword_cnt,
        |  round((length(text) - length(replace(text,' ','')))::DOUBLE/length(text),6) as space_ratio,
        |  round(length(replace(text,' ',''))::DOUBLE/len(string_split(text,' ')),6) as avg_tok_len
        |from documents order by doc_id""".stripMargin),

    ("q_lang_guess",
      (s, dir) =>
        docs(s, dir)
          .withColumn("toks", split(col("text"), " "))
          .select(col("doc_id"), col("lang").as("declared"),
            when(size(filter(col("toks"), w => w.isin("the", "and", "of"))) > 0, "en")
              .when(size(filter(col("toks"), w => w.isin("el", "de", "la"))) > 0, "es")
              .otherwise("und").as("guess"))
          .orderBy("doc_id"),
      """select doc_id, lang as declared,
        |  case when len(list_filter(string_split(text,' '), w -> w in ('the','and','of'))) > 0 then 'en'
        |       when len(list_filter(string_split(text,' '), w -> w in ('el','de','la'))) > 0 then 'es'
        |       else 'und' end as guess
        |from documents order by doc_id""".stripMargin),

    ("q_fingerprint",
      (s, dir) =>
        docs(s, dir)
          .select(col("doc_id"), gf.rollingFingerprint(col("text")).as("fp"))
          .orderBy("doc_id"),
      s"""select doc_id,
         |  case when length(text) = 0 then 0
         |       else list_reduce([ascii(substr(text,i,1))::BIGINT for i in range(1, length(text)+1)],
         |                        (acc, c) -> (acc*31 + c) % $P) end as fp
         |from documents order by doc_id""".stripMargin),

    // ---- embedding similarity search -------------------------------------

    // brute-force cosine top-k over quantized embeddings (exact integer
    // dot products -> bit-identical ranking on both engines)
    ("q_embed_topk",
      (s, dir) => {
        val q = emb(s, dir).select(col("vec_id"), graft.embed.Ann.quantize(col("embedding")).as("v"))
        val probes = q.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("query_id"), col("v").as("qv"))
        graft.embed.Ann
          .bruteTopK(probes, q, k = 5)
          .select(col("query_id"), col("item_id"), round(col("cosine"), 6).as("cosine"))
          .orderBy("query_id", "item_id")
      },
      """with q as (select vec_id, list_transform(embedding, e -> round(e::DOUBLE*1000)::BIGINT) as v from embeddings),
        |ex as (select vec_id, unnest(v) as val, unnest(range(1, len(v)+1)) as idx from q),
        |nrm as (select vec_id, sqrt(sum(val*val)) as nv from ex group by vec_id),
        |dots as (select p.vec_id as query_id, c.vec_id as item_id, sum(p.val*c.val)::BIGINT as dot
        |         from ex p join ex c using (idx) where p.vec_id % 100 = 0 and c.vec_id <> p.vec_id
        |         group by 1,2),
        |cos as (select query_id, item_id, dot/(na.nv*nb.nv) as cosine
        |        from dots join nrm na on na.vec_id = query_id join nrm nb on nb.vec_id = item_id),
        |rk as (select *, row_number() over (partition by query_id order by cosine desc, item_id) as rn
        |       from cos)
        |select query_id, item_id, round(cosine,6) as cosine from rk where rn <= 5
        |order by query_id, item_id""".stripMargin),

    // LSH-bucketed ANN (the scale path: bucket equi-join replaces the
    // quadratic scan); buckets from md5-derived integer hyperplanes.
    // MULTI-BAND: 3 independent 8-plane bucketings OR'd together (global
    // plane index g = band*8 + p), candidates deduped before scoring —
    // recall is tunable by adding bands at linear cost
    ("q_embed_lsh_topk",
      (s, dir) => {
        val q = emb(s, dir).select(col("vec_id"), graft.embed.Ann.quantize(col("embedding")).as("v"))
        val probes = q.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("query_id"), col("v").as("qv"))
        graft.embed.Ann
          .bucketedTopK(probes, q, dim = 64, planes = 8, k = 5, bands = 3)
          .select(col("query_id"), col("item_id"), round(col("cosine"), 6).as("cosine"))
          .orderBy("query_id", "item_id")
      },
      s"""with q as (select vec_id, list_transform(embedding, e -> round(e::DOUBLE*1000)::BIGINT) as v
         |           from embeddings),
         |planes as (select g, (g//8) as band, (g%8) as p, d,
         |                  (('0x'||substr(md5(g::VARCHAR||':'||d::VARCHAR),1,15))::BIGINT % 2001 - 1000) as e
         |           from unnest(range(0,24)) t(g), unnest(range(0,64)) s(d)),
         |ex as (select vec_id, unnest(v) as val, unnest(range(0, len(v))) as d from q),
         |proj as (select vec_id, band, p, sum(val*e)::BIGINT as pr
         |         from ex join planes using (d) group by vec_id, band, p),
         |bkt as (select vec_id, band, sum(case when pr >= 0 then (1::BIGINT<<p::INTEGER) else 0 end)::BIGINT as bucket
         |        from proj group by vec_id, band),
         |nrm as (select vec_id, sqrt(sum(val*val)) as nv from ex group by vec_id),
         |cand as (select distinct a.vec_id as query_id, b.vec_id as item_id
         |         from bkt a join bkt b on a.band = b.band and a.bucket = b.bucket and a.vec_id <> b.vec_id
         |         where a.vec_id % 100 = 0),
         |dots as (select query_id, item_id, sum(p.val*c.val)::BIGINT as dot
         |         from cand join ex p on p.vec_id = cand.query_id
         |         join ex c on c.vec_id = cand.item_id and c.d = p.d group by 1,2),
         |cos as (select query_id, item_id, dot/(na.nv*nb.nv) as cosine
         |        from dots join nrm na on na.vec_id = query_id join nrm nb on nb.vec_id = item_id),
         |rk as (select *, row_number() over (partition by query_id order by cosine desc, item_id) as rn
         |       from cos)
         |select query_id, item_id, round(cosine,6) as cosine from rk where rn <= 5
         |order by query_id, item_id""".stripMargin),

    // audio feature extraction: decode pcm_s16le, per-clip RMS energy +
    // zero-crossing-rate pitch estimate (rows-only: bytes not in SQL)
    ("q_audio_features",
      (s, _) => {
        val feat = udf { (bytes: Array[Byte]) =>
          val (sr, samples) = graft.audio.Wav.fromWav(bytes)
          var sumSq = 0.0
          var zc = 0
          var k = 1
          while (k < samples.length) {
            sumSq += samples(k).toDouble * samples(k)
            if ((samples(k) >= 0) != (samples(k - 1) >= 0)) zc += 1
            k += 1
          }
          val rms = math.sqrt(sumSq / math.max(samples.length - 1, 1))
          val zcrHz = zc.toDouble * sr / (2.0 * samples.length)
          (rms, zcrHz)
        }
        graft.audio.ClipSynth
          .table(s, 200)
          .withColumn("f", feat(col("bytes")))
          .select(col("clip_id"), col("sr_hz"),
            round(col("f._1"), 3).as("rms"), round(col("f._2"), 1).as("est_freq_hz"))
          .orderBy("clip_id")
      },
      // expected values from the independent in-memory oracle
      // (graft.oracle.AudioOracle — fresh decoder + same-IEEE-order math);
      // __GRAFT_EXPECTED__ is substituted with the dump dir by Verify
      """select clip_id, sr_hz, rms, est_freq_hz
        |from read_parquet('__GRAFT_EXPECTED__/q_audio_features.parquet/*.parquet')
        |order by clip_id""".stripMargin),

    // ---- generic relational coverage (joins/aggs/windows/sorts) ----------

    ("q_tpch_pricing",
      (s, dir) =>
        li(s, dir)
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
            sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
            count(lit(1)).as("n_rows"))
          .orderBy("l_returnflag", "l_linestatus"),
      """select l_returnflag, l_linestatus,
        |  sum(l_quantity::DECIMAL(18,2))::DOUBLE as sum_qty,
        |  sum(l_extendedprice::DECIMAL(18,2))::DOUBLE as sum_price,
        |  count(*)::BIGINT as n_rows
        |from lineitem group by 1,2 order by 1,2""".stripMargin),

    ("q_tpch_join_top",
      (s, dir) => {
        val o = s.read.parquet(s"$dir/orders.parquet")
        val c = s.read.parquet(s"$dir/customer.parquet")
        o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .groupBy("c_custkey", "c_name")
          .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"),
            count(lit(1)).as("n_orders"))
          .orderBy(col("total").desc, col("c_custkey"))
          .limit(20)
      },
      """select c_custkey, c_name, sum(o_totalprice::DECIMAL(18,2))::DOUBLE as total,
        |  count(*)::BIGINT as n_orders
        |from orders join customer on o_custkey = c_custkey
        |group by 1,2 order by total desc, c_custkey limit 20""".stripMargin),

    ("q_tpch_window",
      (s, dir) => {
        val o = s.read.parquet(s"$dir/orders.parquet").filter(col("o_custkey") < 100)
        val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
        o.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select("o_custkey", "o_orderkey", "rn")
          .orderBy("o_custkey", "rn")
      },
      """select o_custkey, o_orderkey, rn::INTEGER as rn from (
        |  select o_custkey, o_orderkey,
        |         row_number() over (partition by o_custkey order by o_totalprice desc, o_orderkey) as rn
        |  from orders where o_custkey < 100)
        |where rn <= 3 order by o_custkey, rn""".stripMargin),

    // ---- audio payload (rows-only: WAV bytes are not SQL-expressible) ----

    // per-row invariant: decode pcm_s16le, SNR vs clean signal >= 30 dB,
    // transcript byte-equality vs the deterministic source of truth
    ("q_audio_invariant",
      (s, _) =>
        graft.audio.Invariant
          .check(graft.audio.ClipSynth.table(s, 200))
          .orderBy("clip_id"),
      // independent oracle: AudioOracle.expectedInvariant (fresh
      // fixed-layout RIFF decoder, same-IEEE-order SNR sum)
      """select clip_id, snr_db, pcm_ok, transcript_ok
        |from read_parquet('__GRAFT_EXPECTED__/q_audio_invariant.parquet/*.parquet')
        |order by clip_id""".stripMargin),

    // dedup + clustering over the input_hint-shaped clip table in FULL
    // reference-fidelity (exhaustive) mode, so the cluster labels are
    // oracle-checkable against the in-memory reference semantics
    // (AudioOracle.expectedClusters: FuzzySetRef matching + sequential
    // union-find). The LSH/SimHash/substr scale path is oracle-covered
    // piecewise (q_minhash_sig/q_lsh_bands/q_lsh_pairs/q_simhash) and
    // end-to-end by the bench's planted-pair recall at 400k clips.
    ("q_audio_dedup",
      (s, _) => {
        val clips = graft.audio.ClipSynth.table(s, 2000, includeAudio = false)
        FuzzyPipeline(s, clips, "clip_id", "transcript", FuzzyConf())
          .clustersExhaustive()
          .orderBy("clip_id")
      },
      """select clip_id, component
        |from read_parquet('__GRAFT_EXPECTED__/q_audio_dedup.parquet/*.parquet')
        |order by clip_id""".stripMargin),

    // the STREAMING scale path end-to-end against an independent oracle:
    // the same 2000-clip corpus arrives as three micro-batches with odd
    // boundaries (planted dups occupy adjacent slots, so pairs straddle
    // batches and exercise the cross-batch new-vs-state join), incremental
    // exact+LSH/SimHash edges accumulate per batch, then the documented
    // periodic substring compaction runs over the items state and CC labels
    // the union. minScore 0.5 — above the percolation band (BASELINE.md),
    // where the LSH candidate set provably covers every reference edge, so
    // the scale path's labels are deterministic against the in-memory
    // oracle (AudioOracle.expectedStreamClusters: reference getMatches
    // cascade at 0.5 + exact keys + brute-force containment, union-find).
    ("q_stream_dedup",
      (s, _) => {
        val conf = FuzzyConf(minScore = 0.5)
        val n = 2000L
        val stateDir = tempStateDir("graft_q_stream_dedup").toString
        val all = graft.audio.ClipSynth.table(s, n, includeAudio = false)
          .select("clip_id", "transcript")
        val bounds = Seq((0L, 667L), (667L, 1335L), (1335L, n))
        bounds.zipWithIndex.foreach { case ((lo, hi), b) =>
          graft.streaming.StreamDedup.processBatch(
            all.filter(col("clip_id") >= f"clip_$lo%012d" &&
              col("clip_id") < f"clip_$hi%012d"),
            b.toLong, "clip_id", "transcript", conf, stateDir)
        }
        val idx = graft.streaming.StreamDedup.stateIndex(s, stateDir, conf)
        val substr = graft.stage.Candidates.substringPairs(idx.items, conf.maxBandBucket)
        val edges = graft.streaming.StreamDedup.edges(s, stateDir)
          .select("a_id", "b_id")
          .unionByName(substr.select("a_id", "b_id"))
        val verts = s.read.parquet(s"$stateDir/members")
          .select(col("clip_id").as("id"))
        graft.stage.Cluster.connectedComponentsWithStats(verts, edges)._1
          .select(col("id").as("clip_id"), col("component"))
          .orderBy("clip_id")
      },
      """select clip_id, component
        |from read_parquet('__GRAFT_EXPECTED__/q_stream_dedup.parquet/*.parquet')
        |order by clip_id""".stripMargin),

    ("q_events_daily",
      (s, dir) =>
        s.read.parquet(s"$dir/events.parquet")
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
          .orderBy("event_type", "day"),
      """select event_type, ts::DATE as day, count(*)::BIGINT as n,
        |  sum(value::DECIMAL(18,4))::DOUBLE as sum_value
        |from events group by 1,2 order by 1,2""".stripMargin)
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    inventory.map { case (n, f, _) => (n, f) }.toMap

  val oracleSql: Map[String, String] =
    inventory.collect { case (n, _, sql) if sql != null => (n, sql) }.toMap
}
