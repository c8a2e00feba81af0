package graft

import graft.mapreduce.MapReduceJob
import graft.operators._
import graft.plan.OutputSort
import graft.streaming.EventStreams.{SessionGapMinutes, TumblingWindow, WatermarkDelayMinutes}
import graft.tables.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract (SURVEY.md §7): every operator from the SURVEY.md §2
  * inventory as a named query, each with a DuckDB oracle twin where the
  * semantics are SQL-expressible (hash-based / approximate / sketch ops
  * are registered rows-only, as allowed). Column names and ordering are
  * aligned byte-for-byte between the Spark builder and the oracle SQL —
  * the driver sorts columns by name and hashes values.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.pricingSummary(spark, "/root/testdata/sf0.001")

  /** The registered queries by name. Every builder first installs the
    * output-sort strategy ([[graft.plan.OutputSort]]) on the session it
    * is given, so sessions this library did not build sort measured-small
    * outputs in one task too.
    */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (name, q) =>
      name -> ((s: SparkSession, dir: String) => { OutputSort.install(s); q.build(s, dir) })
    }

  /** The DuckDB SQL each graded query's rows must hash-match. */
  lazy val oracleSql: Map[String, String] =
    registry.collect { case (name, Query(_, Some(sql))) => name -> sql }

  private type Build = (SparkSession, String) => DataFrame

  /** A registered query: its builder and its DuckDB oracle, or `None`
    * for a query registered rows-only (approximate or non-portable-hash
    * output).
    */
  private final case class Query(build: Build, oracle: Option[String])
  private def graded(build: Build, oracle: String) = Query(build, Some(oracle))
  private def rowsOnly(build: Build) = Query(build, None)

  // ——— shared oracle SQL fragments ———

  /** Non-empty `[^a-zA-Z]` tokens of documents.text, uppercased:
    * reference word_count.ex:5-7 semantics in DuckDB.
    */
  private val tokSql =
    "SELECT doc_id, upper(w) AS word FROM (SELECT doc_id, unnest(string_split_regex(text,'[^a-zA-Z]')) AS w FROM documents) WHERE w<>''"

  /** Distinct char-k-shingles of normalized text per document (k =
    * Dedup.ShingleK, kept in lockstep with the Spark builders), over an
    * arbitrary (doc_id, text) relation — the pipeline oracle shingles
    * its FILTERED corpus, not the raw table.
    */
  private def shSqlFrom(rel: String, k: Int = Dedup.ShingleK) =
    s"SELECT DISTINCT doc_id, sh FROM (SELECT doc_id, unnest(list_transform(generate_series(1, greatest(length(norm)-${k - 1},1)), i -> substr(norm,i,$k))) AS sh FROM (SELECT doc_id, lower(trim(text)) AS norm FROM $rel))"
  private val shSql = shSqlFrom("documents")

  /** md5-derived 32-bit hash — must mirror TextFunctions.md5Hash32. */
  private def h32(e: String) = s"('0x'||substr(md5($e),1,8))::BIGINT"

  /** Corpus-filter decision with the text column still in flight —
    * mirrors TextAnalysis.corpusReasons; shared by q_corpus_filter and
    * the q_pipeline_e2e cascade (whose kept-docs stage consumes text).
    */
  private val corpusReasonSql =
    """SELECT doc_id, text, CAST(len(toks) AS BIGINT) AS n_words,
      |CASE WHEN len(toks) < 30 THEN 'too_short'
      |     WHEN length(regexp_replace(text,'[^a-zA-Z]','','g'))::DOUBLE
      |       / greatest(length(text),1) < 0.81 THEN 'low_alpha'
      |     WHEN len(list_filter(toks, x -> lower(x) IN ('the','a','of','and','to','in','is','it')))::DOUBLE
      |       / greatest(len(toks),1) < 0.02 THEN 'low_stopword'
      |     WHEN (len(grams) - len(list_distinct(grams)))::DOUBLE
      |       / greatest(len(grams),1) > 0.01 THEN 'repetitive'
      |     ELSE 'keep' END AS reason
      |FROM (SELECT doc_id, text, toks,
      |    list_transform(generate_series(1, greatest(len(ltoks)-3, 0)),
      |      i -> ltoks[i]||' '||ltoks[i+1]||' '||ltoks[i+2]||' '||ltoks[i+3]) AS grams
      |  FROM (SELECT doc_id, text, toks, list_transform(toks, x -> lower(x)) AS ltoks
      |    FROM (SELECT doc_id, text,
      |      list_filter(string_split_regex(text,'[^a-zA-Z]'), x -> x<>'') AS toks
      |      FROM documents)))""".stripMargin

  /** Rolling polynomial hash (base 31 mod 1e9+7 over code points) —
    * must mirror ArrayMathExpressions.RollingHashExpr; the same
    * list_reduce form the q_fingerprint oracle already proves against
    * the Spark expression.
    */
  private def rollSql(e: String) =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(generate_series(1, length($e)), i -> CAST(ord(substr($e,i,1)) AS BIGINT))), (acc,c) -> (acc*31+c)%1000000007)"

  /** Second independent polynomial (base 131 mod 999999937) — mirrors
    * TextFunctions.rollingFingerprint2; pairs with [[rollSql]] for
    * composite chunk identity.
    */
  private def rollSql2(e: String) =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(generate_series(1, length($e)), i -> CAST(ord(substr($e,i,1)) AS BIGINT))), (acc,c) -> (acc*131+c)%999999937)"

  /** Third independent polynomial (base 257 mod 999999893) — mirrors
    * TextFunctions.rollingWindowFingerprint3, the ≥10^9-window
    * paranoid substring-dedup tier's extra key factor.
    */
  private def rollSql3(e: String) =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(generate_series(1, length($e)), i -> CAST(ord(substr($e,i,1)) AS BIGINT))), (acc,c) -> (acc*257+c)%999999893)"

  /** Fixed-window chunking body (no ORDER BY) — mirrors
    * TextAnalysis.chunkDocuments (`ChunkSize`-token windows every
    * `ChunkStride` tokens); shared by q_chunk_documents and q_chunk_dedup.
    */
  private val chunkSql = {
    val stride = TextAnalysis.ChunkStride
    val window = s"list_slice(t, s, s + ${TextAnalysis.ChunkSize - 1})"
    s"""SELECT doc_id, CAST((s - 1) // $stride AS BIGINT) AS chunk_idx,
       |  CAST(len($window) AS BIGINT) AS n_tokens,
       |  ${rollSql(s"array_to_string($window, ' ')")} AS chunk_hash,
       |  ${rollSql2(s"array_to_string($window, ' ')")} AS chunk_hash2
       |FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t), 1), $stride)) AS s
       |  FROM (SELECT doc_id, list_filter(string_split_regex(text,'[^a-zA-Z]'), x -> x<>'') AS t
       |    FROM documents))""".stripMargin
  }

  /** Decontamination oracle — shared by q_decontamination and its
    * Bloom-prefiltered twin (the prefilter is lossless by construction,
    * so both must hash-match the same exact-join result).
    */
  private val decontaminationSql =
    s"""WITH sp AS (SELECT doc_id,
       |    CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END AS split
       |  FROM (SELECT doc_id, ${h32("text")} % 10 AS b FROM documents)),
       |sh AS (SELECT doc_id, ${rollSql("sh")} AS hh FROM ($shSql)),
       |train AS (SELECT DISTINCT hh AS t_hh FROM sh JOIN sp USING(doc_id) WHERE split = 'train'),
       |ev AS (SELECT sh.doc_id, split, hh FROM sh JOIN sp USING(doc_id) WHERE split <> 'train')
       |SELECT doc_id, split, count(*) AS n_shingles,
       |  CAST(sum(CASE WHEN t_hh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
       |  sum(CASE WHEN t_hh IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / count(*) AS contamination
       |FROM ev LEFT JOIN train ON hh = t_hh
       |GROUP BY 1, 2 ORDER BY doc_id""".stripMargin

  /** MinHash signature CTE body — mirrors Dedup.minhashSignatures: one
    * rolling-polynomial hash per shingle, then the affine family
    * (A·h + B) mod P min'd per member (identical long arithmetic — A < 2^31
    * keeps A·h + B inside signed 64-bit in both engines).
    */
  private val sigSql = {
    val mins = (0 until Dedup.NumHashes)
      .map(i => s"min((${Dedup.HashA(i)}*h + ${Dedup.HashB(i)}) % ${Dedup.HashP}) AS mh$i")
      .mkString(", ")
    s"SELECT doc_id, $mins FROM (SELECT doc_id, ${rollSql("sh")} AS h FROM ($shSql)) GROUP BY doc_id"
  }

  private def dotSql(a: String, b: String) =
    s"list_sum(list_transform(generate_series(1, len($a)), i -> $a[i]::DOUBLE * $b[i]::DOUBLE))"
  /** Mirrors CosineSimilarityExpr incl. the all-zero-vector guard
    * (cosine := 0 where either norm is 0, instead of NaN/NULL).
    */
  private def cosSql(a: String, b: String) =
    s"(CASE WHEN ${dotSql(a, a)} * ${dotSql(b, b)} = 0 THEN 0.0 ELSE ${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})) END)"

  /** α=1/2 EWMA over the last K events per user, lag-tap form — shared
    * by q_ewma (batch window) and q_stream_ewma (per-key state): both
    * engines sum power-of-two-weighted integer cents exactly and
    * divide once.
    */
  /** The BPE trainer re-derived round by round (Tokenizer.scala): the
    * reference-tokenizer vocabulary with exact counts, per-token-
    * delimited symbol sequences (`hello` → `|h||e||l||l||o|` — each
    * token carries its own delimiters, so `replace('|t1||t2|' →
    * '|t1t2|')` is exactly the left-to-right non-overlapping BPE merge
    * in both engines), then [[graft.operators.Tokenizer.BpeMerges]]
    * chained CTE rounds of pair-count → (count DESC, t1, t2) argmax →
    * merge. `bpeChain(r)` ends at the sequence table `s{r}`.
    */
  private def bpeChainSql(rounds: Int): String = {
    // AS MATERIALIZED throughout: s{r-1} is referenced twice per round
    // (pair count + merge), and DuckDB 1.0 INLINES plain CTEs — the
    // un-materialized chain re-expands ~2^rounds times (the kcenterSql
    // lesson applied before it bites; tolerable at 8 rounds only
    // because the fixture vocabulary is tiny)
    val base =
      s"""WITH w AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
         |  SELECT lower(t.tok) AS word FROM (
         |    SELECT unnest(list_filter(string_split_regex(text,'[^a-zA-Z]'), x -> x<>'')) AS tok
         |    FROM documents) t) GROUP BY word),
         |s0 AS MATERIALIZED (SELECT word, regexp_replace(word, '(.)', '|\\1|', 'g') AS seq, cnt FROM w)""".stripMargin
    val perRound = (1 to rounds).map { r =>
      s"""p$r AS MATERIALIZED (SELECT toks[i] AS t1, toks[i+1] AS t2, CAST(sum(cnt) AS BIGINT) AS pc FROM (
         |    SELECT toks, cnt, unnest(generate_series(1, len(toks)-1)) AS i FROM (
         |      SELECT string_split(trim(seq, '|'), '||') AS toks, cnt FROM s${r - 1}))
         |  GROUP BY t1, t2),
         |b$r AS MATERIALIZED (SELECT t1, t2, pc FROM p$r ORDER BY pc DESC, t1, t2 LIMIT 1),
         |s$r AS MATERIALIZED (SELECT word, replace(seq, '|'||b.t1||'||'||b.t2||'|', '|'||b.t1||b.t2||'|') AS seq, cnt
         |  FROM s${r - 1}, b$r b)""".stripMargin
    }
    (base +: perRound).mkString(",\n")
  }

  private val bpeMergesSql: String = {
    val r = graft.operators.Tokenizer.BpeMerges
    val rows = (1 to r).map(i =>
      s"SELECT CAST($i AS BIGINT) AS merge_round, t1, t2, t1||t2 AS merged, pc AS pair_count FROM b$i")
      .mkString("\n  UNION ALL ")
    s"""${bpeChainSql(r)}
       |SELECT merge_round, t1, t2, merged, pair_count FROM (
       |  $rows
       |) ORDER BY merge_round""".stripMargin
  }

  private val bpeTokenizeSql: String = {
    val r = graft.operators.Tokenizer.BpeMerges
    s"""${bpeChainSql(r)},
       |vt AS (SELECT word, CAST(len(string_split(trim(seq, '|'), '||')) AS BIGINT) AS n_tok FROM s$r),
       |dw AS (SELECT doc_id, lower(t.tok) AS word FROM (
       |  SELECT doc_id, unnest(list_filter(string_split_regex(text,'[^a-zA-Z]'), x -> x<>'')) AS tok
       |  FROM documents) t)
       |SELECT dw.doc_id, CAST(count(*) AS BIGINT) AS n_words, CAST(sum(vt.n_tok) AS BIGINT) AS n_tokens
       |FROM dw JOIN vt USING (word) GROUP BY dw.doc_id ORDER BY dw.doc_id""".stripMargin
  }

  /** Greedy k-center traversal re-derived (Similarity.kCenterSelect):
    * seed = min vec_id; round r takes the argmin of max-round-6-cosine
    * to the selected set, (maxsim ASC, vec_id ASC) total order.
    */
  private val kcenterSql: String = {
    val r = graft.operators.Similarity.KCenterRounds
    // AS MATERIALIZED is load-bearing: DuckDB 1.0 INLINES plain CTEs,
    // and sel{i}/p{i} are each referenced 2-3 times per later round —
    // un-materialized, the 8-round chain expands exponentially (the
    // plain form ran minutes; materialized, 0.3 s)
    val rounds = (1 to r).map { i =>
      s"""m$i AS MATERIALIZED (SELECT e.vec_id, max(round(${cosSql("e.embedding", "s.embedding")}, 6)) AS maxsim
         |  FROM embeddings e, sel${i - 1} s
         |  WHERE e.vec_id NOT IN (SELECT vec_id FROM sel${i - 1}) GROUP BY e.vec_id),
         |p$i AS MATERIALIZED (SELECT vec_id, maxsim FROM m$i ORDER BY maxsim ASC, vec_id LIMIT 1),
         |sel$i AS MATERIALIZED (SELECT * FROM sel${i - 1} UNION ALL
         |  SELECT e.vec_id, e.embedding FROM embeddings e JOIN p$i USING (vec_id))""".stripMargin
    }.mkString(",\n")
    val unions = (1 to r).map(i =>
      s"SELECT CAST($i AS BIGINT) AS sel_round, vec_id, maxsim FROM p$i")
      .mkString("\n  UNION ALL ")
    s"""WITH sel0 AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings
       |  WHERE vec_id = (SELECT min(vec_id) FROM embeddings)),
       |$rounds
       |SELECT sel_round, vec_id, maxsim FROM (
       |  $unions
       |) ORDER BY sel_round""".stripMargin
  }

  /** The aHash CTE chain (closed-form pixels → block sums → bits →
    * two 32-bit halves), shared by q_image_ahash (+ streaming twin)
    * and q_image_neardup. Ends at `ahv(doc_id, ahash_hi, ahash_lo)`.
    */
  private def ahashCtes(p: String): String =
    s"""${p}px AS (SELECT doc_id, x, y, (doc_id*31 + y*7 + x) % 256 AS v
       |  FROM (SELECT doc_id, unnest(generate_series(0, 15)) AS y FROM documents),
       |       (SELECT unnest(generate_series(0, 31)) AS x)),
       |${p}tot AS (SELECT doc_id, sum(v) AS total FROM ${p}px GROUP BY doc_id),
       |${p}blk AS (SELECT doc_id, (y//2)*8 + (x//4) AS bit, sum(v) AS bs FROM ${p}px GROUP BY doc_id, (y//2)*8 + (x//4)),
       |${p}bits AS (SELECT b.doc_id, bit, CASE WHEN bs*64 > total THEN 1 ELSE 0 END AS s
       |  FROM ${p}blk b JOIN ${p}tot t ON b.doc_id = t.doc_id),
       |${p}ahv AS (SELECT doc_id,
       |  CAST(sum(CASE WHEN s=1 AND bit>=32 THEN (CAST(1 AS BIGINT) << (bit-32)) ELSE 0 END) AS BIGINT) AS ahash_hi,
       |  CAST(sum(CASE WHEN s=1 AND bit<32 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS ahash_lo
       |  FROM ${p}bits GROUP BY doc_id)""".stripMargin

  private val ahashCtesSql: String = ahashCtes("")

  private val imageAhashSql: String =
    s"""WITH $ahashCtesSql
       |SELECT doc_id, ahash_hi, ahash_lo FROM ahv ORDER BY doc_id""".stripMargin

  /** Visual near-dup pairs: 4×16-bit banding of the aHash (complete
    * recall at Hamming ≤ 3 by pigeonhole), popcount verify — the same
    * arithmetic the Spark band join runs.
    */
  private val imageNeardupSql: String =
    s"""WITH $ahashCtesSql,
       |bands AS (SELECT doc_id, cb,
       |    CASE WHEN cb < 2 THEN (ahash_lo >> (cb*16)) & 65535
       |         ELSE (ahash_hi >> ((cb-2)*16)) & 65535 END AS kv
       |  FROM ahv, (SELECT unnest(generate_series(0, 3)) AS cb)),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
       |  FROM bands a JOIN bands c ON a.cb = c.cb AND a.kv = c.kv AND a.doc_id < c.doc_id)
       |SELECT id_a, id_b, dist FROM (
       |  SELECT id_a, id_b,
       |    CAST(bit_count(xor(x.ahash_hi, y.ahash_hi)) + bit_count(xor(x.ahash_lo, y.ahash_lo)) AS BIGINT) AS dist
       |  FROM cand JOIN ahv x ON x.doc_id = id_a JOIN ahv y ON y.doc_id = id_b)
       |WHERE dist <= ${graft.operators.Multimodal.ImageNeardupMaxDist}
       |ORDER BY id_a, id_b""".stripMargin

  /** Shared audio-fingerprint CTE chain ending in
    * `afv(doc_id, n_samples, afp)` — the DuckDB twin of
    * [[graft.operators.Multimodal.RealCodecs.fingerprintWav]] over the
    * AM sample fixture; consumed by q_audio_fingerprint and
    * q_audio_dedup so the two gates can never drift apart.
    */
  private val audioFpCteSql: String = {
    val F = graft.operators.Multimodal.AudioFpFrames
    s"""samples AS (SELECT doc_id, i,
       |    abs(((doc_id*13 + i*17) % 16384 - 8192)
       |        * (1 + (doc_id + (i*$F) // (1000 + doc_id % 500)) % 4)) AS a,
       |    (i*$F) // (1000 + doc_id % 500) AS f
       |  FROM (SELECT doc_id,
       |      unnest(generate_series(0, 999 + doc_id % 500)) AS i
       |    FROM documents)),
       |frames AS (SELECT doc_id, f, sum(a) AS fs, count(*) AS nf
       |  FROM samples GROUP BY 1, 2),
       |tot AS (SELECT doc_id, sum(a) AS total, count(*) AS n
       |  FROM samples GROUP BY 1),
       |afv AS (SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
       |  CAST(sum(CASE WHEN fs * n > total * nf
       |    THEN (CAST(1 AS BIGINT) << f) ELSE 0 END) AS BIGINT) AS afp
       |  FROM frames JOIN tot USING (doc_id) GROUP BY doc_id, n)""".stripMargin
  }

  /** The WIDE 64-frame fingerprint CTE chain ending in
    * `afw(doc_id, n_samples, afp_hi, afp_lo)` — like [[audioFpCteSql]]
    * but with 64 fingerprint frames split into two 32-bit halves (the
    * aHash shift convention). The ENVELOPE frame index stays at 16
    * ([[graft.operators.Multimodal.AudioFpFrames]] — the synth fixture
    * is unchanged); only the fingerprint granularity widens. Shared by
    * q_audio_fingerprint_wide and q_audio_neardup.
    */
  private def audioFpWideCte(p: String): String = {
    val envF = graft.operators.Multimodal.AudioFpFrames
    s"""${p}samples AS (SELECT doc_id, i,
       |    abs(((doc_id*13 + i*17) % 16384 - 8192)
       |        * (1 + (doc_id + (i*$envF) // (1000 + doc_id % 500)) % 4)) AS a,
       |    (i*64) // (1000 + doc_id % 500) AS f
       |  FROM (SELECT doc_id,
       |      unnest(generate_series(0, 999 + doc_id % 500)) AS i
       |    FROM documents)),
       |${p}frames AS (SELECT doc_id, f, sum(a) AS fs, count(*) AS nf
       |  FROM ${p}samples GROUP BY 1, 2),
       |${p}tot AS (SELECT doc_id, sum(a) AS total, count(*) AS n
       |  FROM ${p}samples GROUP BY 1),
       |${p}afw AS (SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
       |  CAST(sum(CASE WHEN fs * n > total * nf AND f >= 32
       |    THEN (CAST(1 AS BIGINT) << (f - 32)) ELSE 0 END) AS BIGINT) AS afp_hi,
       |  CAST(sum(CASE WHEN fs * n > total * nf AND f < 32
       |    THEN (CAST(1 AS BIGINT) << f) ELSE 0 END) AS BIGINT) AS afp_lo
       |  FROM ${p}frames JOIN ${p}tot USING (doc_id) GROUP BY doc_id, n)""".stripMargin
  }

  private val audioFpWideCteSql: String = audioFpWideCte("")

  /** The per-chunk fingerprint replay — chunk = i // chunkSamples,
    * frame index and the cross-multiplied mean compare both within-
    * CHUNK (nc, the short tail chunk's own length — never the
    * clip's). Shared by q_audio_fingerprint_chunks and the chunk-
    * level near-dup so the key derivation can never fork.
    */
  private val audioChunksSql: String = {
    val cs = graft.operators.Multimodal.AudioChunkSamples
    val envF = graft.operators.Multimodal.AudioFpFrames
    s"""WITH base AS (SELECT doc_id, (1000 + doc_id % 500) AS n FROM documents),
       |samples AS (SELECT doc_id, i,
       |    abs(((doc_id*13 + i*17) % 16384 - 8192)
       |        * (1 + (doc_id + (i*$envF) // n) % 4)) AS a,
       |    i // $cs AS chunk, i % $cs AS j,
       |    least($cs, n - (i // $cs)*$cs) AS nc
       |  FROM (SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i
       |    FROM base)),
       |frames AS (SELECT doc_id, chunk, nc, (j*$envF) // nc AS f,
       |    sum(a) AS fs, count(*) AS nf
       |  FROM samples GROUP BY 1, 2, 3, 4),
       |tot AS (SELECT doc_id, chunk, sum(a) AS total
       |  FROM samples GROUP BY 1, 2)
       |SELECT f.doc_id, CAST(f.chunk AS BIGINT) AS chunk,
       |  CAST(f.nc AS BIGINT) AS n_samples,
       |  CAST(sum(CASE WHEN fs * nc > total * nf
       |    THEN (CAST(1 AS BIGINT) << f) ELSE 0 END) AS BIGINT) AS afp
       |FROM frames f JOIN tot t ON f.doc_id = t.doc_id AND f.chunk = t.chunk
       |GROUP BY 1, 2, 3""".stripMargin
  }

  /** Acoustic near-dup pairs: 4×16-bit banding + popcount verify over
    * the wide fingerprint — the imageNeardupSql shape on the audio
    * key. Shared by q_audio_neardup and its delta (incremental) twin.
    */
  private val audioNeardupSql: String =
    s"""WITH $audioFpWideCteSql,
       |bands AS (SELECT doc_id, cb,
       |    CASE WHEN cb < 2 THEN (afp_lo >> (cb*16)) & 65535
       |         ELSE (afp_hi >> ((cb-2)*16)) & 65535 END AS kv
       |  FROM afw, (SELECT unnest(generate_series(0, 3)) AS cb)),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
       |  FROM bands a JOIN bands c ON a.cb = c.cb AND a.kv = c.kv AND a.doc_id < c.doc_id)
       |SELECT id_a, id_b, dist FROM (
       |  SELECT id_a, id_b,
       |    CAST(bit_count(xor(x.afp_hi, y.afp_hi)) + bit_count(xor(x.afp_lo, y.afp_lo)) AS BIGINT) AS dist
       |  FROM cand JOIN afw x ON x.doc_id = id_a JOIN afw y ON y.doc_id = id_b)
       |WHERE dist <= ${graft.operators.Multimodal.ImageNeardupMaxDist}
       |ORDER BY id_a, id_b""".stripMargin

  /** Transitive closure over the text near-dup pair graph — shared by
    * q_dup_clusters and its incremental (label-maintenance) twin.
    */
  private lazy val dupClustersSql: String =
    s"""WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ($lshPairsSql)),
       |edges AS (SELECT id_a AS u, id_b AS v FROM pairs UNION SELECT id_b, id_a FROM pairs),
       |nodes AS (SELECT DISTINCT u AS id FROM edges),
       |reach(id, r) AS (SELECT id, id FROM nodes
       |  UNION SELECT e.v, r.r FROM reach r JOIN edges e ON e.u = r.id)
       |SELECT rep AS cluster_rep, count(*) AS n_members
       |FROM (SELECT id, min(r) AS rep FROM reach GROUP BY id)
       |GROUP BY rep ORDER BY cluster_rep""".stripMargin

  /** Transitive closure over the visual pairs (the q_dup_clusters
    * recursive-CTE shape on the image pair list) — shared by the full
    * and the incremental (label-maintenance) cluster entries, whose
    * output contracts are identical by design.
    */
  private val imageDupClustersSql: String =
    s"""WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ($imageNeardupSql)),
       |edges AS (SELECT id_a AS u, id_b AS v FROM pairs UNION SELECT id_b, id_a FROM pairs),
       |nodes AS (SELECT DISTINCT u AS id FROM edges),
       |reach(id, r) AS (SELECT id, id FROM nodes
       |  UNION SELECT e.v, r.r FROM reach r JOIN edges e ON e.u = r.id)
       |SELECT rep AS cluster_rep, count(*) AS n_members
       |FROM (SELECT id, min(r) AS rep FROM reach GROUP BY id)
       |GROUP BY rep ORDER BY cluster_rep""".stripMargin

  /** The delta restriction — the full pair list filtered to pairs
    * touching the mod-10 ingest batch and type-tagged: the incremental
    * probe must find exactly these (incremental joins change WORK,
    * never results — the q_delta_dedup oracle shape).
    */
  private def deltaPairsSql(fullPairsSql: String): String =
    s"""WITH pairs AS (SELECT * FROM ($fullPairsSql))
       |SELECT id_a, id_b, dist,
       |  CASE WHEN id_a % 10 >= 8 AND id_b % 10 >= 8 THEN 'new_new'
       |       ELSE 'new_existing' END AS pair_type
       |FROM pairs
       |WHERE id_a % 10 >= 8 OR id_b % 10 >= 8
       |ORDER BY id_a, id_b""".stripMargin

  /** Wrap a full-corpus oracle chain in a shadowed `documents` CTE so
    * the SAME SQL re-derives the result over a FILTERED corpus — the
    * retraction entries' oracle shape: a retracted index equals the
    * rebuild over corpus-minus-tombstones, so the oracle is the
    * untouched full chain evaluated over the surviving docs only.
    * DuckDB resolves the schema-qualified `main.documents` to the base
    * view while every unqualified `documents` inside the inner chain
    * binds to the CTE. The inner chain's own ORDER BY does not survive
    * the derived table, so the caller restates it.
    */
  private def overRetainedDocs(keepSql: String, inner: String,
      orderBy: String): String =
    s"""WITH documents AS (SELECT * FROM main.documents WHERE $keepSql)
       |SELECT * FROM (
       |$inner
       |) ORDER BY $orderBy""".stripMargin

  /** The retraction fixtures' survivor predicates: the stored base
    * minus tombstoned ids. BM25's index is keyed by the id rule
    * (doc_id%10<8 base); the text families' by the md5 ingest rule
    * (buckets 0–7). Tombstones are doc_id ≡ 7 (mod 10) in both — an id
    * list, the way production takedowns arrive.
    */
  private val bm25RetainSql = "doc_id % 10 < 7"
  private lazy val textRetainSql =
    s"${h32("text")} % 10 < 8 AND doc_id % 10 <> 7"

  /** Exact visual dedup's twin: min-doc representative + class size
    * per exact aHash class, one row per image.
    */
  private val imageDedupSql: String =
    s"""WITH $ahashCtesSql,
       |reps AS (SELECT ahash_hi, ahash_lo, min(doc_id) AS rep_id,
       |    count(*) AS n_class
       |  FROM ahv GROUP BY 1, 2)
       |SELECT doc_id, rep_id, n_class
       |FROM ahv JOIN reps USING (ahash_hi, ahash_lo)
       |ORDER BY doc_id""".stripMargin

  private val ewmaSql: String = {
    val k = graft.operators.EventAnalytics.EwmaK
    val lags = (1 until k).map(d =>
      s"lag(cents, $d) OVER w AS c$d").mkString(", ")
    val num = (s"cents * ${1L << (k - 1)}" +:
      (1 until k).map(d => s"coalesce(c$d, 0) * ${1L << (k - 1 - d)}")).mkString(" + ")
    val den = (s"${1L << (k - 1)}" +:
      (1 until k).map(d => s"CASE WHEN c$d IS NULL THEN 0 ELSE ${1L << (k - 1 - d)} END")).mkString(" + ")
    s"""WITH e AS (SELECT event_id, user_id, ts,
       |  CAST(round(value*100) AS BIGINT) AS cents FROM events),
       |l AS (SELECT user_id, event_id, cents,
       |  row_number() OVER w AS rn, $lags
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
       |SELECT user_id, rn, event_id, cents,
       |  CAST($num AS BIGINT)::DOUBLE / CAST($den AS BIGINT)::DOUBLE AS ewma_cents
       |FROM l ORDER BY user_id, rn""".stripMargin
  }

  /** Per-user cumulative-moment 3σ outlier test — shared by
    * q_stream_anomaly (state form) and q_anomaly_running (window
    * form): all-long arithmetic, no division.
    */
  private val anomalySql: String =
    s"""WITH e AS (SELECT event_id, user_id, ts,
       |  CAST(round(value*100) AS BIGINT) AS cents FROM events),
       |c AS (SELECT user_id, event_id, cents,
       |  count(*) OVER w AS n_prior,
       |  sum(cents) OVER w AS sum_prior,
       |  sum(cents*cents) OVER w AS sumsq_prior
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
       |SELECT user_id, event_id, cents,
       |  CAST(n_prior AS BIGINT) AS n_prior, CAST(sum_prior AS BIGINT) AS sum_prior
       |FROM c
       |WHERE n_prior >= ${graft.operators.EventAnalytics.AnomalyMinPrior}
       |  AND (n_prior*cents - sum_prior)*(n_prior*cents - sum_prior)
       |      > 9*(n_prior*sumsq_prior - sum_prior*sum_prior)
       |ORDER BY user_id, event_id""".stripMargin

  /** Lloyd-round CTE chain shared by q_kmeans / q_semdedup — the DuckDB
    * twin of Similarity.kmeansAssignOn's three determinism rules:
    * fixed-point longs at 2^20 (round-half-away both engines), centroid
    * mean = associative long-sum / (n·2^20) (one deterministic float
    * rounding per dimension), per-row distances as in-element-order
    * list_sum folds. Ends at CTE `kmf(vec_id, cluster, dist)`.
    */
  private def lloydDistSql(qv: String, cent: String) =
    s"list_sum(list_transform(generate_series(1, len($qv)), i -> " +
      s"($qv[i]::DOUBLE / 1048576.0 - $cent[i]) * ($qv[i]::DOUBLE / 1048576.0 - $cent[i])))"

  /** The Lloyd CTE rounds over any `q(vec_id, qv)` quantized CTE —
    * shared by [[kmeansChainSql]] (raw embeddings, k=KmeansK) and the
    * q_knn_ivf_exact oracle (unit vectors, k=IvfExactCells). Ends at
    * the final assignment CTE `a{iters}(vec_id, m{d,c})` scored against
    * centroid table `c{iters-1}`.
    */
  /** `prefix` namespaces every generated CTE (q/c0/a1/...) so several
    * independent Lloyd chains — e.g. one per PQ subspace — compose in
    * one WITH clause without name collisions.
    */
  /** `k` is spliced as SQL text, so a caller may pass a literal
    * (`"16"`) or a scalar subquery re-deriving a data-dependent count
    * (the √N IVF sizing — [[sqrtCellsSql]]).
    */
  private def lloydRoundsSql(qCtes: String, k: String, prefix: String = ""): String = {
    val iters = graft.operators.Similarity.KmeansIters
    def dist(qv: String, cent: String) = lloydDistSql(qv, cent)
    val P = prefix
    val sb = new StringBuilder
    sb ++= qCtes
    sb ++= s""",
              |${P}c0 AS (SELECT vec_id AS cid, list_transform(qv, v -> v::DOUBLE / 1048576.0) AS cent
              |  FROM ${P}q WHERE vec_id < $k)""".stripMargin
    for (t <- 1 to iters) {
      sb ++= s""",
                |${P}a$t AS (SELECT t.vec_id, min({'d': ${dist("t.qv", "c.cent")}, 'c': c.cid}) AS m
                |  FROM ${P}q t, ${P}c${t - 1} c GROUP BY t.vec_id)""".stripMargin
      if (t < iters) sb ++= s""",
                |${P}s$t AS (SELECT a.m.c AS cluster, CAST(unnest(generate_series(1, len(t.qv))) AS BIGINT) AS pos,
                |    unnest(t.qv) AS v FROM ${P}q t JOIN ${P}a$t a ON t.vec_id = a.vec_id),
                |${P}u$t AS (SELECT cluster, pos, sum(v) AS s, count(*) AS n FROM ${P}s$t GROUP BY 1, 2),
                |${P}c$t AS (SELECT cluster AS cid, array_agg(s::DOUBLE / (n * 1048576.0) ORDER BY pos) AS cent
                |  FROM ${P}u$t GROUP BY cluster)""".stripMargin
    }
    sb.toString
  }

  /** DuckDB twin of the √N IVF cell sizing (dedupCells capped at
    * Similarity.IvfMaxCells) re-derived from `count(*)` — floor
    * matches the JVM's Double→Int truncation for positive values.
    */
  private val sqrtCellsSql: String =
    "(SELECT least(" + graft.operators.Similarity.IvfMaxCells +
      ", greatest(4, CAST(floor(sqrt(count(*))) AS BIGINT))) FROM embeddings)"

  /** The unit-normalize + 2^20 fixed-point CTE pair every IVF oracle
    * chain starts from (the Spark side's `quantizedX(unitized(e))`).
    */
  private val ivfUnitQSql: String =
    """un AS (SELECT vec_id, embedding,
      |  sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm FROM embeddings),
      |q AS (SELECT vec_id, list_transform(embedding,
      |  x -> CAST(round((CASE WHEN nrm = 0 THEN x::DOUBLE ELSE x::DOUBLE / nrm END) * 1048576.0) AS BIGINT)) AS qv FROM un)""".stripMargin

  /** The deterministic-quantizer IVF pipeline re-derived end-to-end,
    * parameterized by the cell-count expression: `IvfExactCells` for
    * q_knn_ivf_exact (+ its pruned twin), [[sqrtCellsSql]] for the
    * √N-sized production tier q_knn_ivf (+ its pruned twin).
    */
  private def ivfSqlFor(cells: String): String = {
    val iters = graft.operators.Similarity.KmeansIters
    s"""WITH ${lloydRoundsSql(ivfUnitQSql, cells)},
       |cells AS (SELECT vec_id, m.c AS cell FROM a$iters),
       |probe AS (SELECT qq.vec_id AS q_id, c.cid AS cell
       |  FROM (SELECT * FROM q WHERE vec_id < ${graft.operators.Similarity.NumQueries}) qq, c${iters - 1} c
       |  QUALIFY row_number() OVER (PARTITION BY qq.vec_id
       |    ORDER BY ${lloydDistSql("qq.qv", "c.cent")}, c.cid) <= ${Similarity.IvfProbes}),
       |sims AS (SELECT p.q_id, s.vec_id AS n_id,
       |  round(${cosSql("qe.embedding", "s.embedding")}, 6) AS sim
       |  FROM probe p
       |  JOIN cells cl ON cl.cell = p.cell
       |  JOIN embeddings s ON s.vec_id = cl.vec_id
       |  JOIN embeddings qe ON qe.vec_id = p.q_id
       |  WHERE s.vec_id <> p.q_id),
       |ranked AS (SELECT q_id, n_id, sim,
       |  row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank FROM sims)
       |SELECT q_id, rank, n_id, sim FROM ranked WHERE rank <= ${graft.operators.Similarity.K}
       |ORDER BY q_id, rank""".stripMargin
  }

  private lazy val ivfExactSql: String =
    ivfSqlFor(graft.operators.Similarity.IvfExactCells.toString)
  private lazy val ivfSqrtSql: String = ivfSqlFor(sqrtCellsSql)

  /** The INCREMENTAL IVF re-derived: the deterministic Lloyd chain
    * runs over the id-PREFIX base only (vec_id < ⌊0.8n⌋ by integer
    * arithmetic — Similarity.deltaBaseCount's twin), and the cell
    * assignment covers ALL vectors against those base-fitted
    * centroids — base rows exactly as the stored layout assigned them
    * at base ingest, batch rows exactly as the stateless delta
    * assignment lands them. Probe plan and exact rerank are
    * [[ivfSqlFor]]'s verbatim.
    */
  private lazy val deltaIvfSql: String = deltaIvfSqlFor(8)

  /** The base-fitted IVF maintenance chain at an arbitrary id-prefix
    * cut (numerator over 10): Lloyd fits over vec_id < n·cut/10,
    * assignment covers ALL vectors — shared by the single-ingest
    * entries (cut 8) and the two-commit compounding entries (cut 6,
    * whose two stateless commits union to exactly this one-pass
    * assignment).
    */
  private def deltaIvfSqlFor(cutNum: Int, retainSql: String = "TRUE"): String = {
    val iters = graft.operators.Similarity.KmeansIters
    val qc =
      s"""un AS (SELECT vec_id, embedding,
        |  sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm FROM embeddings),
        |qa AS (SELECT vec_id, list_transform(embedding,
        |  x -> CAST(round((CASE WHEN nrm = 0 THEN x::DOUBLE ELSE x::DOUBLE / nrm END) * 1048576.0) AS BIGINT)) AS qv FROM un),
        |q AS (SELECT * FROM qa WHERE vec_id < (SELECT count(*) * $cutNum // 10 FROM embeddings))""".stripMargin
    s"""WITH ${lloydRoundsSql(qc, graft.operators.Similarity.IvfExactCells.toString)},
       |ca AS (SELECT t.vec_id, min({'d': ${lloydDistSql("t.qv", "c.cent")}, 'c': c.cid}) AS m
       |  FROM qa t, c${iters - 1} c GROUP BY t.vec_id),
       |cells AS (SELECT vec_id, m.c AS cell FROM ca WHERE $retainSql),
       |probe AS (SELECT qq.vec_id AS q_id, c.cid AS cell
       |  FROM (SELECT * FROM qa WHERE vec_id < ${graft.operators.Similarity.NumQueries}) qq, c${iters - 1} c
       |  QUALIFY row_number() OVER (PARTITION BY qq.vec_id
       |    ORDER BY ${lloydDistSql("qq.qv", "c.cent")}, c.cid) <= ${Similarity.IvfProbes}),
       |sims AS (SELECT p.q_id, s.vec_id AS n_id,
       |  round(${cosSql("qe.embedding", "s.embedding")}, 6) AS sim
       |  FROM probe p
       |  JOIN cells cl ON cl.cell = p.cell
       |  JOIN embeddings s ON s.vec_id = cl.vec_id
       |  JOIN embeddings qe ON qe.vec_id = p.q_id
       |  WHERE s.vec_id <> p.q_id),
       |ranked AS (SELECT q_id, n_id, sim,
       |  row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank FROM sims)
       |SELECT q_id, rank, n_id, sim FROM ranked WHERE rank <= ${graft.operators.Similarity.K}
       |ORDER BY q_id, rank""".stripMargin
  }

  /** The INCREMENTAL SemDeDup re-derived — the deltaIvfSql pattern on
    * the curation decision: the Lloyd chain fits over the id-PREFIX
    * base only (raw embeddings, KmeansK — the q_semdedup quantizer),
    * assignment covers ALL vectors against those base-fitted
    * centroids, rank + pairwise drop run over the union exactly as
    * q_semdedup's chain, and the output restricts to batch vec_ids —
    * which is precisely what the frozen-base delta operator emits.
    */
  /** The batch cut shared by every embeddings-side delta oracle. */
  private val semBCut = "(SELECT count(*) * 8 // 10 FROM embeddings)"

  /** The base-fitted assignment chain shared by q_delta_semdedup and
    * its streaming serving twin: Lloyd over the id-prefix base,
    * assignment over all — ends at CTE `kmf(vec_id, cluster, dist)`.
    */
  private lazy val deltaSemChainSql: String = {
    val iters = graft.operators.Similarity.KmeansIters
    val qc =
      s"""qa AS (SELECT vec_id, list_transform(embedding,
         |  x -> CAST(round(x::DOUBLE * 1048576.0) AS BIGINT)) AS qv FROM embeddings),
         |q AS (SELECT * FROM qa WHERE vec_id < $semBCut)""".stripMargin
    s"""${lloydRoundsSql(qc, graft.operators.Similarity.KmeansK.toString)},
       |ca AS (SELECT t.vec_id, min({'d': ${lloydDistSql("t.qv", "c.cent")}, 'c': c.cid}) AS m
       |  FROM qa t, c${iters - 1} c GROUP BY t.vec_id),
       |kmf AS (SELECT vec_id, m.c AS cluster, round(m.d, 6) AS dist FROM ca)""".stripMargin
  }

  private lazy val deltaSemdedupSql: String = {
    val bCut = semBCut
    s"""WITH $deltaSemChainSql,
       |r AS (SELECT vec_id, cluster,
       |    row_number() OVER (PARTITION BY cluster ORDER BY dist DESC, vec_id) AS rnk
       |  FROM kmf),
       |re AS (SELECT r.vec_id, r.cluster, r.rnk, e.embedding
       |  FROM r JOIN embeddings e USING (vec_id)),
       |dropped AS (SELECT DISTINCT b.vec_id
       |  FROM re a JOIN re b ON a.cluster = b.cluster AND a.rnk < b.rnk
       |  WHERE b.vec_id >= $bCut
       |    AND round(${cosSql("a.embedding", "b.embedding")}, 6) >= ${Similarity.SemDedupThreshold})
       |SELECT r.vec_id, r.cluster, CAST(r.rnk AS BIGINT) AS "rank",
       |  CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
       |FROM r LEFT JOIN dropped d ON r.vec_id = d.vec_id
       |WHERE r.vec_id >= $bCut
       |ORDER BY r.vec_id""".stripMargin
  }

  /** The streaming serving twin's re-derivation: each arrival (batch
    * row) adjudicated against the FROZEN stored side only — rank counts
    * base members above, kept drops on a base cosine hit above; the
    * batch-internal terms of [[deltaSemdedupSql]] vanish at serving
    * (each arrival is its own batch of one).
    */
  private lazy val deltaSemdedupServeSql: String = {
    val above = "(a.dist > b.dist OR (a.dist = b.dist AND a.vec_id < b.vec_id))"
    s"""WITH $deltaSemChainSql,
       |bb AS (SELECT k.vec_id, k.cluster, k.dist, e.embedding
       |  FROM kmf k JOIN embeddings e USING (vec_id) WHERE k.vec_id >= $semBCut),
       |ba AS (SELECT k.vec_id, k.cluster, k.dist, e.embedding
       |  FROM kmf k JOIN embeddings e USING (vec_id) WHERE k.vec_id < $semBCut)
       |SELECT b.vec_id, b.cluster,
       |  CAST(1 + count(CASE WHEN $above THEN 1 END) AS BIGINT) AS "rank",
       |  CAST(CASE WHEN max(CASE WHEN $above AND
       |      round(${cosSql("a.embedding", "b.embedding")}, 6) >= ${Similarity.SemDedupThreshold}
       |    THEN 1 ELSE 0 END) = 1 THEN 0 ELSE 1 END AS BIGINT) AS kept
       |FROM bb b LEFT JOIN ba a ON a.cluster = b.cluster
       |GROUP BY b.vec_id, b.cluster
       |ORDER BY b.vec_id""".stripMargin
  }

  /** The INCREMENTAL NSW graph re-derived: the blocked build + rings
    * restricted to the id-prefix base (the stored edge table), an
    * unrolled insert beam per batch vector over those stored edges
    * (top-GraphM links, both directions appended), then the serving
    * beam over stored ∪ inserted edges with the full corpus.
    */
  /** One ingest's unrolled insert beam as suffix-tagged CTEs: queries
    * = ids in [lo, hi) beam-search `edges` for their top-GraphM links;
    * emits `ilinks$sfx` and `alledges$sfx` = edges ∪ links in both
    * directions. Chaining calls with each ingest's alledges as the
    * next ingest's `edges` re-derives the ORDER-DEPENDENT multi-ingest
    * recurrence (insert 2 can reach and link insert 1's nodes through
    * the backlinks insert 1 appended).
    */
  private def insertBeamSql(sfx: String, edges: String, loSql: String,
      hiSql: String): String = {
    import graft.operators.Similarity
    val sb = new StringBuilder
    sb ++= s"""iqset$sfx AS MATERIALIZED (SELECT vec_id AS q_id, emb AS q_emb, n2 AS q_n2 FROM ev
       |  WHERE vec_id >= $loSql AND vec_id < $hiSql),
       |ibeam${sfx}0 AS MATERIALIZED (SELECT q_id, c.vec_id AS n_id, ${gSimSql("q_emb", "q_n2", "c.emb", "c.n2")} AS sim
       |  FROM ev c CROSS JOIN iqset$sfx WHERE c.vec_id < ${Similarity.GraphEntries})""".stripMargin
    for (h <- 1 to Similarity.GraphHops) {
      sb ++= s""",
        |ibn$sfx$h AS MATERIALIZED (SELECT DISTINCT t.q_id, ed.dst AS n_id FROM ibeam$sfx${h - 1} t JOIN $edges ed ON ed.src = t.n_id),
        |ibs$sfx$h AS MATERIALIZED (SELECT t.q_id, t.n_id, ${gSimSql("q.q_emb", "q.q_n2", "c.emb", "c.n2")} AS sim
        |  FROM ibn$sfx$h t JOIN ev c ON c.vec_id = t.n_id JOIN iqset$sfx q ON q.q_id = t.q_id),
        |ibeam$sfx$h AS MATERIALIZED (SELECT q_id, n_id, sim FROM (
        |  SELECT q_id, n_id, sim, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS r
        |  FROM (SELECT DISTINCT q_id, n_id, sim FROM
        |    (SELECT * FROM ibeam$sfx${h - 1} UNION ALL SELECT * FROM ibs$sfx$h))) WHERE r <= ${Similarity.GraphBeam})""".stripMargin
    }
    sb ++= s""",
      |ilinks$sfx AS (SELECT q_id, n_id FROM (
      |  SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS r
      |  FROM ibeam$sfx${Similarity.GraphHops} WHERE q_id <> n_id) WHERE r <= ${Similarity.GraphM}),
      |alledges$sfx AS MATERIALIZED (SELECT src, dst FROM $edges
      |  UNION ALL SELECT q_id, n_id FROM ilinks$sfx
      |  UNION ALL SELECT n_id, q_id FROM ilinks$sfx)""".stripMargin
    sb.toString
  }

  private lazy val deltaGraphSql: String = {
    val b = "(SELECT b FROM nb)"
    s"""WITH $graphEvSql,
       |nb AS (SELECT n * 8 // 10 AS b FROM nn),
       |bsrc AS (SELECT * FROM ev WHERE vec_id < $b),
       |${blockedEdgesSql("b", s"WHERE vec_id < $b", b)},
       |${insertBeamSql("", "bedges", b, "(SELECT n FROM nn)")}""".stripMargin +
      graphBeamSql("alledges")
  }

  /** The retraction chain: the delta-graph build verbatim (base build
    * + insert beam over the PRE-deletion graph — history immutable),
    * then the serving beam over the tombstone-filtered edge set.
    * Entry/query ids are exempt from the fixture tombstone rule, so
    * every beam candidate is a survivor by construction.
    */
  private lazy val retractGraphSql: String = {
    val b = "(SELECT b FROM nb)"
    val nq = graft.operators.Similarity.NumQueries
    s"""WITH $graphEvSql,
       |nb AS (SELECT n * 8 // 10 AS b FROM nn),
       |bsrc AS (SELECT * FROM ev WHERE vec_id < $b),
       |${blockedEdgesSql("b", s"WHERE vec_id < $b", b)},
       |${insertBeamSql("", "bedges", b, "(SELECT n FROM nn)")},
       |redges AS MATERIALIZED (SELECT src, dst FROM alledges
       |  WHERE (src % 10 <> 7 OR src < $nq)
       |    AND (dst % 10 <> 7 OR dst < $nq))""".stripMargin +
      graphBeamSql("redges")
  }

  /** The two-ingest chained recurrence: base at the 6/10 cut, ingest 1
    * ([0.6n, 0.8n)) beamed over the base edges, ingest 2 ([0.8n, n))
    * beamed over alledges as ingest 1 LEFT THEM, serving beam over the
    * final graph — insert(insert(G0, b1), b2), fully unrolled.
    */
  private lazy val delta2GraphSql: String = {
    val b0 = "(SELECT b0 FROM nb2)"
    val b1 = "(SELECT b1 FROM nb2)"
    s"""WITH $graphEvSql,
       |nb2 AS (SELECT n * 6 // 10 AS b0, n * 8 // 10 AS b1 FROM nn),
       |bsrc AS (SELECT * FROM ev WHERE vec_id < $b0),
       |${blockedEdgesSql("b", s"WHERE vec_id < $b0", b0)},
       |${insertBeamSql("x", "bedges", b0, b1)},
       |${insertBeamSql("y", "alledgesx", b1, "(SELECT n FROM nn)")}""".stripMargin +
      graphBeamSql("alledgesy")
  }

  /** The IVF-PQ composition re-derived: the deterministic Lloyd cells
    * + probe plan (the [[ivfSqlFor]] CTEs at the given cell count),
    * int8 pack per vector (floor(x/scale + 0.5), clamped — Java
    * Math.round), integer coarse dot INSIDE probed cells only, exact
    * cosine rerank of the top-QuantRerank shortlist.
    */
  private def quantizedIvfSqlFor(cells: String): String = {
    val iters = graft.operators.Similarity.KmeansIters
    s"""WITH ${lloydRoundsSql(ivfUnitQSql, cells)},
       |cells AS (SELECT vec_id, m.c AS cell FROM a$iters),
       |probe AS (SELECT qq.vec_id AS q_id, c.cid AS cell
       |  FROM (SELECT * FROM q WHERE vec_id < ${graft.operators.Similarity.NumQueries}) qq, c${iters - 1} c
       |  QUALIFY row_number() OVER (PARTITION BY qq.vec_id
       |    ORDER BY ${lloydDistSql("qq.qv", "c.cent")}, c.cid) <= ${Similarity.IvfProbes}),
       |e8 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
       |s8 AS (SELECT vec_id, emb,
       |    list_max(list_transform(emb, x -> abs(x))) / 127.0 AS scale,
       |    sqrt(list_sum(list_transform(emb, x -> x * x))) AS nrm FROM e8),
       |z8 AS (SELECT vec_id, scale, nrm,
       |    CASE WHEN scale = 0.0 THEN list_transform(emb, x -> CAST(0 AS BIGINT))
       |         ELSE list_transform(emb, x -> greatest(-127, least(127, CAST(floor(x / scale + 0.5) AS BIGINT)))) END AS qv8
       |  FROM s8),
       |qq8 AS (SELECT vec_id AS q_id, qv8 AS q_qv8 FROM z8 WHERE vec_id < ${graft.operators.Similarity.NumQueries}),
       |coarse AS (SELECT p.q_id, t.vec_id AS n_id,
       |    (t.scale * CAST(list_sum(list_transform(generate_series(1, len(t.qv8)),
       |        i -> qq8.q_qv8[i] * t.qv8[i])) AS DOUBLE))
       |      / (CASE WHEN t.nrm = 0.0 THEN 1.0 ELSE t.nrm END) AS qsim
       |  FROM probe p
       |  JOIN cells cl ON cl.cell = p.cell
       |  JOIN z8 t ON t.vec_id = cl.vec_id
       |  JOIN qq8 ON qq8.q_id = p.q_id
       |  WHERE t.vec_id <> p.q_id),
       |short AS (SELECT q_id, n_id FROM coarse
       |  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY qsim DESC, n_id) <= ${graft.operators.Similarity.QuantRerank}),
       |sims AS (SELECT sl.q_id, sl.n_id,
       |    round(${cosSql("qe.embedding", "se.embedding")}, 6) AS sim
       |  FROM short sl
       |  JOIN embeddings se ON se.vec_id = sl.n_id
       |  JOIN embeddings qe ON qe.vec_id = sl.q_id),
       |ranked AS (SELECT q_id, n_id, sim,
       |  row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank FROM sims)
       |SELECT q_id, rank, n_id, sim FROM ranked WHERE rank <= ${graft.operators.Similarity.K}
       |ORDER BY q_id, rank""".stripMargin
  }

  private lazy val quantizedIvfExactSql: String =
    quantizedIvfSqlFor(graft.operators.Similarity.IvfExactCells.toString)
  private lazy val quantizedIvfSqrtSql: String =
    quantizedIvfSqlFor(sqrtCellsSql)

  /** Product quantization re-derived: one prefixed Lloyd chain per
    * subspace over the 2^20-quantized subvectors, codes = each chain's
    * final assignment, ADC = per-subspace squared distances folded in
    * subspace order, exact cosine rerank of the ADC shortlist.
    */
  private lazy val pqKnnSql: String = {
    import graft.operators.Similarity
    val iters = Similarity.KmeansIters
    val m = Similarity.PqSubspaces
    // fixture dim is 64; the Spark side derives it at runtime, the SQL
    // derives it from len(embedding) via a scalar subquery per slice
    val chains = (0 until m).map { j =>
      val qCte =
        s"""p${j}q AS (SELECT vec_id, list_transform(
           |    embedding[${j} * (SELECT len(embedding) FROM embeddings LIMIT 1) / $m + 1 :
           |              (${j} + 1) * (SELECT len(embedding) FROM embeddings LIMIT 1) / $m],
           |  x -> CAST(round(x::DOUBLE * 1048576.0) AS BIGINT)) AS qv FROM embeddings)""".stripMargin
      lloydRoundsSql(qCte, Similarity.PqCodebook.toString, s"p$j")
    }.mkString(",\n")
    val codesU = (0 until m)
      .map(j => s"SELECT vec_id, $j AS j, m.c AS code FROM p${j}a$iters")
      .mkString(" UNION ALL ")
    val centsU = (0 until m)
      .map(j => s"SELECT $j AS j, cid AS code, cent FROM p${j}c${iters - 1}")
      .mkString(" UNION ALL ")
    val qxU = (0 until m)
      .map(j => s"SELECT vec_id AS q_id, $j AS j, list_transform(qv, v -> v::DOUBLE / 1048576.0) AS qx FROM p${j}q WHERE vec_id < ${Similarity.NumQueries}")
      .mkString(" UNION ALL ")
    s"""WITH $chains,
       |codes AS ($codesU),
       |cents AS ($centsU),
       |qx AS ($qxU),
       |dj AS (SELECT qx.q_id, c.vec_id AS n_id, c.j,
       |    list_sum(list_transform(generate_series(1, len(qx.qx)),
       |      i -> (qx.qx[i] - ct.cent[i]) * (qx.qx[i] - ct.cent[i]))) AS d
       |  FROM codes c
       |  JOIN cents ct ON ct.j = c.j AND ct.code = c.code
       |  JOIN qx ON qx.j = c.j
       |  WHERE qx.q_id <> c.vec_id),
       |adc AS (SELECT q_id, n_id, list_sum(array_agg(d ORDER BY j)) AS adc
       |  FROM dj GROUP BY q_id, n_id),
       |short AS (SELECT q_id, n_id FROM adc
       |  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY adc, n_id) <= ${Similarity.PqRerank}),
       |sims AS (SELECT sl.q_id, sl.n_id,
       |    round(${cosSql("qe.embedding", "se.embedding")}, 6) AS sim
       |  FROM short sl
       |  JOIN embeddings se ON se.vec_id = sl.n_id
       |  JOIN embeddings qe ON qe.vec_id = sl.q_id),
       |ranked AS (SELECT q_id, n_id, sim,
       |  row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank FROM sims)
       |SELECT q_id, rank, n_id, sim FROM ranked WHERE rank <= ${Similarity.K}
       |ORDER BY q_id, rank""".stripMargin
  }

  // ——— graph-ANN oracles (round 15) ———
  //
  // The whole NSW-family pipeline — neighbor-graph BUILD (blocked
  // proximity or NN-descent) + ring shortcuts + 5-hop batch beam
  // SEARCH — re-derived in DuckDB. Feasible because round 15 swapped
  // xxhash64 (no DuckDB analog) for the overflow-free 31-bit mixer
  // [[graft.operators.Similarity.mix31]] everywhere the builders draw
  // pseudo-randomness, making the full graph a deterministic pure
  // function of the corpus (the q_knn_ivf_exact precedent). At the
  // sf0.01 gate (n=500) neither chain is expensive; sampling and
  // convergence checks only engage above 100k vectors, so the
  // unrolled-4-round SQL is EXACTLY the plan the Spark side runs at
  // gate scale.

  /** DuckDB twin of [[graft.operators.Similarity.mix31]]: xor-shift →
    * ×73244475 mod 2^31, twice. Inlined textually (h0 appears 8× in
    * the expansion — ~400 chars, cheaper than staged CTEs per salt).
    */
  /** The media-near cascade re-derivation over a joint-key CTE `k`
    * (doc_id, ahash_hi, ahash_lo, afp_hi, afp_lo), restricted by
    * `where` and with every generated CTE name prefixed `p` — shared
    * by q_pipeline_media_near's oracle (unrestricted) and the delta
    * cascade oracle's stored-base half (doc_id mod-10 base cut), so
    * the base layout the delta appends to is re-derived by the SAME
    * chain the full cascade is graded against. Per-modality pairs are
    * brute-force Hamming balls (value-equal to the routed banding by
    * complete recall); closure is the recursive-CTE reach; layout is
    * the mix31 shard arithmetic. Ends at
    * `${p}layout(doc_id, n_docs, shard, pos)`.
    */
  private def mediaNearChainCtes(p: String, where: String): String = {
    val maxD = graft.operators.Multimodal.ImageNeardupMaxDist
    s"""${p}reps AS (SELECT ahash_hi, ahash_lo, afp_hi, afp_lo,
       |    min(doc_id) AS rep, count(*) AS n_class
       |  FROM k $where GROUP BY 1, 2, 3, 4),
       |${p}iminr AS (SELECT ahash_hi, ahash_lo, min(rep) AS inode
       |  FROM ${p}reps GROUP BY 1, 2),
       |${p}aminr AS (SELECT afp_hi, afp_lo, min(rep) AS anode
       |  FROM ${p}reps GROUP BY 1, 2),
       |${p}ip AS (SELECT x.inode AS u, y.inode AS v FROM ${p}iminr x, ${p}iminr y
       |  WHERE (x.ahash_hi < y.ahash_hi OR
       |      (x.ahash_hi = y.ahash_hi AND x.ahash_lo < y.ahash_lo))
       |    AND bit_count(xor(x.ahash_hi, y.ahash_hi))
       |      + bit_count(xor(x.ahash_lo, y.ahash_lo)) <= $maxD),
       |${p}ap AS (SELECT x.anode AS u, y.anode AS v FROM ${p}aminr x, ${p}aminr y
       |  WHERE (x.afp_hi < y.afp_hi OR
       |      (x.afp_hi = y.afp_hi AND x.afp_lo < y.afp_lo))
       |    AND bit_count(xor(x.afp_hi, y.afp_hi))
       |      + bit_count(xor(x.afp_lo, y.afp_lo)) <= $maxD),
       |${p}inc AS (SELECT DISTINCT im.inode AS u, am.anode AS v
       |  FROM ${p}reps r JOIN ${p}iminr im USING (ahash_hi, ahash_lo)
       |  JOIN ${p}aminr am USING (afp_hi, afp_lo)),
       |${p}alledges AS (SELECT u, v FROM ${p}ip UNION SELECT v, u FROM ${p}ip
       |  UNION SELECT u, v FROM ${p}ap UNION SELECT v, u FROM ${p}ap
       |  UNION SELECT u, v FROM ${p}inc UNION SELECT v, u FROM ${p}inc),
       |${p}nodes AS (SELECT DISTINCT u AS id FROM ${p}alledges),
       |${p}reach(id, r) AS (SELECT id, id FROM ${p}nodes
       |  UNION SELECT e.v, r.r FROM ${p}reach r JOIN ${p}alledges e ON e.u = r.id),
       |${p}lbl AS (SELECT id, min(r) AS lbl FROM ${p}reach GROUP BY id),
       |${p}keep AS (SELECT l.lbl AS doc_id,
       |    CAST(sum(n_class) AS BIGINT) AS n_docs
       |  FROM ${p}reps r JOIN ${p}iminr im USING (ahash_hi, ahash_lo)
       |  JOIN ${p}lbl l ON l.id = im.inode
       |  GROUP BY 1),
       |${p}keyed AS (SELECT doc_id, n_docs,
       |    ${mixSql("doc_id", Dedup.ShardSalt.toString)} AS skey
       |  FROM ${p}keep),
       |${p}layout AS (SELECT doc_id, n_docs, skey % ${Dedup.NumShards} AS shard,
       |  row_number() OVER (PARTITION BY skey % ${Dedup.NumShards}
       |    ORDER BY skey, doc_id) - 1 AS pos
       |FROM ${p}keyed)""".stripMargin
  }

  private def mixSql(x: String, salt: String): String = {
    val h0 = s"(($x + $salt) % 2147483648)"
    val h1 = s"((xor($h0, $h0 >> 16) * 73244475) % 2147483648)"
    val h2 = s"((xor($h1, $h1 >> 16) * 73244475) % 2147483648)"
    s"xor($h2, $h2 >> 16)"
  }

  /** Shared scoring CTEs: `nn(n)` and `ev(vec_id, emb, n2)` — emb as
    * DOUBLE list, n2 = Σxᵢ² folded in element order (bit-identical to
    * CosineSimilarityExpr's interleaved accumulator: each of dot/na/nb
    * is its own sequential sum).
    */
  private val graphEvSql =
    """nn AS (SELECT count(*) AS n FROM embeddings),
      |ev AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb,
      |  list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)) AS n2 FROM embeddings)""".stripMargin

  private def gDotSql(a: String, b: String) =
    s"list_sum(list_transform(generate_series(1, len($a)), i -> $a[i] * $b[i]))"

  /** Cosine over ev rows with precomputed squared norms — same guard
    * and same double ops as cosSql/CosineSimilarityExpr, minus the 4
    * redundant norm recomputations per pair.
    */
  private def gSimSql(ae: String, an2: String, be: String, bn2: String) =
    s"(CASE WHEN $an2 * $bn2 = 0 THEN 0.0 ELSE ${gDotSql(ae, be)} / (sqrt($an2) * sqrt($bn2)) END)"

  private def gSqdSql(a: String, b: String) =
    s"list_sum(list_transform(generate_series(1, len($a)), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"

  /** The two hash-ring shortcut families (Similarity.ringEdges): group
    * by mix31(vec_id, salt) mod max(1, n/32), chain in (mix31(vec_id,
    * salt+100), vec_id) order with wrap-around, drop self-loops. Both
    * salts in one pass via a (salt) cross join, partitioned by
    * (salt, grp). Ends at CTE `ring(src, dst)`.
    */
  /** `p`-prefixed ring CTEs over `embeddings $where`, with `nExpr` the
    * node count driving the group sizing — the base-restricted
    * instance serves the delta-graph oracle's stored-build half.
    */
  private def ringSqlFor(p: String, where: String, nExpr: String) =
    s"""${p}rg AS (SELECT vec_id, s.salt,
       |    ${mixSql("vec_id", "s.salt")} % greatest(1, $nExpr // 32) AS grp,
       |    ${mixSql("vec_id", "(s.salt + 100)")} AS ord
       |  FROM embeddings CROSS JOIN (SELECT unnest([1, 2]) AS salt) s $where),
       |${p}ring AS MATERIALIZED (SELECT src, dst FROM (
       |  SELECT vec_id AS src,
       |    coalesce(lead(vec_id) OVER (PARTITION BY salt, grp ORDER BY ord, vec_id),
       |      first_value(vec_id) OVER (PARTITION BY salt, grp ORDER BY ord, vec_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)) AS dst
       |  FROM ${p}rg) WHERE src <> dst)""".stripMargin

  private val ringSql = ringSqlFor("", "", "(SELECT n FROM nn)")

  /** The batch beam search (Similarity.graphSearch) over a prebuilt
    * `edges(src, dst)` CTE: entries = vec_id < GraphEntries crossed
    * with the query set, then GraphHops rounds of expand-score-prune
    * (dedup on (q_id, n_id) is DISTINCT over the full row — sim is a
    * pure function of the pair, so both engines' arbitrary-keeper
    * dedups agree). Final: drop self, rank ≤ K, round(sim, 6).
    */
  private def graphBeamSql(edges: String): String = {
    import graft.operators.Similarity
    val sb = new StringBuilder
    sb ++= s""",
      |qset AS MATERIALIZED (SELECT vec_id AS q_id, emb AS q_emb, n2 AS q_n2 FROM ev WHERE vec_id < ${Similarity.NumQueries}),
      |beam0 AS MATERIALIZED (SELECT q_id, c.vec_id AS n_id, ${gSimSql("q_emb", "q_n2", "c.emb", "c.n2")} AS sim
      |  FROM ev c CROSS JOIN qset WHERE c.vec_id < ${Similarity.GraphEntries})""".stripMargin
    for (h <- 1 to Similarity.GraphHops) {
      sb ++= s""",
        |bn$h AS MATERIALIZED (SELECT DISTINCT b.q_id, ed.dst AS n_id FROM beam${h - 1} b JOIN $edges ed ON ed.src = b.n_id),
        |bs$h AS MATERIALIZED (SELECT nb.q_id, nb.n_id, ${gSimSql("q.q_emb", "q.q_n2", "c.emb", "c.n2")} AS sim
        |  FROM bn$h nb JOIN ev c ON c.vec_id = nb.n_id JOIN qset q ON q.q_id = nb.q_id),
        |beam$h AS MATERIALIZED (SELECT q_id, n_id, sim FROM (
        |  SELECT q_id, n_id, sim, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS r
        |  FROM (SELECT DISTINCT q_id, n_id, sim FROM
        |    (SELECT * FROM beam${h - 1} UNION ALL SELECT * FROM bs$h))) WHERE r <= ${Similarity.GraphBeam})""".stripMargin
    }
    sb ++= s"""
      |SELECT q_id, rank, n_id, round(sim, 6) AS sim FROM (
      |  SELECT q_id, n_id, sim, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank
      |  FROM beam${Similarity.GraphHops} WHERE q_id <> n_id)
      |WHERE rank <= ${Similarity.K} ORDER BY q_id, rank""".stripMargin
    sb.toString
  }

  /** q_knn_graph_nnd re-derived: deterministic mix31 init (GraphM
    * pseudo-neighbors per node), NndRounds unrolled rounds of
    * neighbor-of-neighbor proposals (top-M per src → undirected view →
    * mid-join → anti-join vs the scored accumulator → score only the
    * fresh pairs), final top-M ∪ ring, then the shared beam search.
    * No ρ-sampling and no convergence exit below 100k vectors, so the
    * unroll is exactly the gate-scale Spark plan.
    */
  private lazy val nndGraphSql: String = {
    import graft.operators.Similarity
    val m = Similarity.GraphM
    val sb = new StringBuilder
    sb ++= s"""WITH $graphEvSql,
      |$ringSql,
      |ini AS MATERIALIZED (SELECT DISTINCT least(vec_id, nbr) AS x, greatest(vec_id, nbr) AS y FROM (
      |  SELECT vec_id, ${mixSql("vec_id", "(j * 31 + 7)")} % (SELECT n FROM nn) AS nbr
      |  FROM embeddings CROSS JOIN (SELECT unnest(range($m)) AS j) jj) WHERE vec_id <> nbr),
      |sc0 AS MATERIALIZED (SELECT i.x, i.y, ${gSimSql("ex.emb", "ex.n2", "ey.emb", "ey.n2")} AS sim
      |  FROM ini i JOIN ev ex ON ex.vec_id = i.x JOIN ev ey ON ey.vec_id = i.y)""".stripMargin
    for (r <- 0 until Similarity.NndRounds) {
      sb ++= s""",
        |tm$r AS MATERIALIZED (SELECT src, dst FROM (
        |  SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst) AS r FROM (
        |    SELECT x AS src, y AS dst, sim FROM sc$r
        |    UNION ALL SELECT y AS src, x AS dst, sim FROM sc$r)) WHERE r <= $m),
        |un$r AS MATERIALIZED (SELECT DISTINCT src, dst FROM
        |  (SELECT src, dst FROM tm$r UNION ALL SELECT dst AS src, src AS dst FROM tm$r)),
        |cd$r AS MATERIALIZED (SELECT DISTINCT least(t1.src, t2.c) AS x, greatest(t1.src, t2.c) AS y
        |  FROM un$r t1 JOIN (SELECT src AS mid, dst AS c FROM un$r) t2 ON t1.dst = t2.mid
        |  WHERE t1.src <> t2.c),
        |fr$r AS MATERIALIZED (SELECT c.x, c.y FROM cd$r c ANTI JOIN sc$r s ON s.x = c.x AND s.y = c.y),
        |nsc$r AS MATERIALIZED (SELECT f.x, f.y, ${gSimSql("ex.emb", "ex.n2", "ey.emb", "ey.n2")} AS sim
        |  FROM fr$r f JOIN ev ex ON ex.vec_id = f.x JOIN ev ey ON ey.vec_id = f.y),
        |sc${r + 1} AS MATERIALIZED (SELECT * FROM sc$r UNION ALL SELECT * FROM nsc$r)""".stripMargin
    }
    val rr = Similarity.NndRounds
    sb ++= s""",
      |tm$rr AS MATERIALIZED (SELECT src, dst FROM (
      |  SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst) AS r FROM (
      |    SELECT x AS src, y AS dst, sim FROM sc$rr
      |    UNION ALL SELECT y AS src, x AS dst, sim FROM sc$rr)) WHERE r <= $m),
      |edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM
      |  (SELECT src, dst FROM tm$rr UNION ALL SELECT src, dst FROM ring))""".stripMargin
    sb ++= graphBeamSql("edges")
    sb.toString
  }

  /** q_knn_graph re-derived: ~√N centroid blocks (first nCells
    * vectors), each node to its TWO nearest blocks by sqDist (c_id
    * tie-break), within-block cosine pairs (x < y once, DISTINCT over
    * the pair+sim for the shared-both-blocks case), per-src top-M ∪
    * ring, shared beam search.
    */
  /** `p`-prefixed blocked-build CTEs (Similarity.graphAnnEdgesFor)
    * over `${p}src(vec_id, emb, n2)` sized by `nExpr`, ring edges
    * included — ends at `${p}edges(src, dst)`. The unrestricted
    * instance is q_knn_graph's build; the base-restricted instance is
    * the delta-graph oracle's stored edge table.
    */
  private def blockedEdgesSql(p: String, where: String, nExpr: String): String = {
    import graft.operators.Similarity
    val cellsSql = s"(SELECT greatest(4, CAST(floor(sqrt($nExpr)) AS BIGINT)))"
    s"""${ringSqlFor(p, where, nExpr)},
       |${p}bk AS MATERIALIZED (SELECT vec_id, blk FROM (
       |  SELECT e.vec_id, c.c_id AS blk,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${gSqdSql("e.emb", "c.c_emb")}, c.c_id) AS r
       |  FROM ${p}src e CROSS JOIN (SELECT vec_id AS c_id, emb AS c_emb FROM ${p}src
       |    WHERE vec_id < $cellsSql) c) WHERE r <= 2),
       |${p}hf AS MATERIALIZED (SELECT DISTINCT a.vec_id AS x, b.vec_id AS y,
       |    ${gSimSql("ex.emb", "ex.n2", "ey.emb", "ey.n2")} AS sim
       |  FROM ${p}bk a JOIN ${p}bk b ON a.blk = b.blk AND a.vec_id < b.vec_id
       |  JOIN ${p}src ex ON ex.vec_id = a.vec_id JOIN ${p}src ey ON ey.vec_id = b.vec_id),
       |${p}px AS MATERIALIZED (SELECT src, dst FROM (
       |  SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst) AS r FROM (
       |    SELECT x AS src, y AS dst, sim FROM ${p}hf
       |    UNION ALL SELECT y AS src, x AS dst, sim FROM ${p}hf)) WHERE r <= ${Similarity.GraphM}),
       |${p}edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM
       |  (SELECT src, dst FROM ${p}px UNION ALL SELECT src, dst FROM ${p}ring))""".stripMargin
  }

  private lazy val blockedGraphSql: String =
    s"""WITH $graphEvSql,
       |src AS (SELECT * FROM ev),
       |${blockedEdgesSql("", "", "(SELECT n FROM nn)")}""".stripMargin +
      graphBeamSql("edges")

  private val kmeansChainSql: String = {
    val iters = graft.operators.Similarity.KmeansIters
    val rawQ =
      """q AS (SELECT vec_id, list_transform(embedding,
        |  x -> CAST(round(x::DOUBLE * 1048576.0) AS BIGINT)) AS qv FROM embeddings)""".stripMargin
    lloydRoundsSql(rawQ, graft.operators.Similarity.KmeansK.toString) + s""",
      |kmf AS (SELECT vec_id, m.c AS cluster, round(m.d, 6) AS dist FROM a$iters)""".stripMargin
  }

  private val wordcountSql =
    s"SELECT word, count(*) AS cnt FROM ($tokSql) GROUP BY word ORDER BY word"

  /** The verified lexical-cosine chain — shared by q_lexical_cosine
    * and its incremental twin q_delta_lexical_cosine (delta-applied
    * union df == the full recompute's df, the winnow-delta argument).
    * No trailing ORDER BY — callers append or wrap.
    */
  private lazy val lexCosineSql: String =
    s"""WITH toks AS (SELECT doc_id, list_transform(list_filter(
       |    string_split_regex(text,'[^a-zA-Z]'), x -> x<>''), x -> lower(x)) AS toks
       |  FROM documents),
       |tf AS (SELECT doc_id, tok, count(*) AS tf FROM (
       |  SELECT doc_id, unnest(toks) AS tok FROM toks) GROUP BY 1, 2),
       |norms AS (SELECT doc_id, CAST(sum(tf*tf) AS BIGINT) AS norm2 FROM tf GROUP BY 1),
       |sh AS (SELECT DISTINCT doc_id,
       |    toks[i]||' '||toks[i+1]||' '||toks[i+2]||' '||toks[i+3] AS shingle
       |  FROM (SELECT doc_id, toks,
       |    unnest(generate_series(1, greatest(len(toks)-3, 0))) AS i FROM toks)),
       |dfc AS (SELECT shingle FROM (SELECT shingle, count(*) AS df FROM sh GROUP BY 1)
       |  WHERE df <= ${Dedup.LexMaxDf}),
       |rare AS (SELECT s.doc_id, s.shingle FROM sh s JOIN dfc USING (shingle)),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
       |dots AS (SELECT id_a, id_b, CAST(sum(ta.tf * tb.tf) AS BIGINT) AS dot
       |  FROM cand JOIN tf ta ON ta.doc_id = id_a
       |  JOIN tf tb ON tb.doc_id = id_b AND ta.tok = tb.tok
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, dot,
       |  CAST(dot AS DOUBLE) / sqrt(CAST(na.norm2 * nb.norm2 AS DOUBLE)) AS cosine
       |FROM dots JOIN norms na ON na.doc_id = id_a JOIN norms nb ON nb.doc_id = id_b
       |WHERE CAST(dot AS DOUBLE) / sqrt(CAST(na.norm2 * nb.norm2 AS DOUBLE))
       |  >= ${Dedup.LexCosineMin}""".stripMargin

  /** The MOSS containment decision over the winnowed index — shared
    * by q_winnow_pairs and its incremental twin q_delta_winnow_pairs
    * (delta-applied union df == the full recompute's df, so the delta
    * shares this chain verbatim under the touching-batch restriction).
    * No trailing ORDER BY — callers append or wrap.
    */
  private lazy val winnowPairsSql: String = {
    val maxDf = graft.operators.TextAnalysis.WinnowMaxDf
    val minShared = graft.operators.TextAnalysis.WinnowMinShared
    val pct = graft.operators.TextAnalysis.WinnowOverlapPct
    s"""WITH $winnowCtes,
       |dfp AS (SELECT DISTINCT doc_id, fp FROM wfp),
       |keep AS (SELECT fp FROM dfp GROUP BY fp
       |  HAVING count(*) >= 2 AND count(*) <= $maxDf),
       |kept AS (SELECT doc_id, dfp.fp FROM dfp JOIN keep ON dfp.fp = keep.fp),
       |sz AS (SELECT doc_id, count(*) AS n_fps FROM dfp GROUP BY 1),
       |shared AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(count(*) AS BIGINT) AS n_shared
       |  FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= $minShared)
       |SELECT id_a, id_b, n_shared,
       |  n_shared::DOUBLE / least(sa.n_fps, sb.n_fps)::DOUBLE AS containment
       |FROM shared JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
       |WHERE n_shared * 100 >= least(sa.n_fps, sb.n_fps) * $pct""".stripMargin
  }

  /** Exact n-gram Jaccard pairs (at least `Dedup.JaccardMin`) — shared by
    * q_ngram_jaccard and q_neardup_auto (the router's exact path).
    */
  private val jaccardSql =
    s"""WITH sh AS ($shSql),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
       |common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
       |  FROM sh a JOIN sh b ON a.sh=b.sh AND a.doc_id<b.doc_id GROUP BY 1,2)
       |SELECT id_a, id_b, jaccard FROM (
       |  SELECT id_a, id_b,
       |    round(n_common::DOUBLE/(sa.sz+sb.sz-n_common),4) AS jaccard
       |  FROM common JOIN sizes sa ON id_a=sa.doc_id JOIN sizes sb ON id_b=sb.doc_id)
       |WHERE jaccard >= ${Dedup.JaccardMin} ORDER BY id_a, id_b""".stripMargin

  /** LSH near-dup pairs (unordered) — shared by q_minhash_lsh_pairs and
    * the q_dup_clusters component oracle.
    */
  private val lshPairsSql = {
    val bands = (0 until Dedup.Bands).map { b =>
      val r = Dedup.NumHashes / Dedup.Bands
      val key = (0 until r).map(i => s"mh${b * r + i}::VARCHAR").mkString("||'_'||")
      s"SELECT doc_id, $b AS band, $key AS bkey FROM sig"
    }.mkString(" UNION ALL ")
    val matches = (0 until Dedup.NumHashes)
      .map(i => s"(sa.mh$i = sb.mh$i)::INT").mkString(" + ")
    s"""WITH sig AS ($sigSql),
       |bands AS ($bands),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM bands a
       |  JOIN bands b ON a.band=b.band AND a.bkey=b.bkey AND a.doc_id<b.doc_id)
       |SELECT id_a, id_b, est_jaccard FROM (
       |  SELECT id_a, id_b, ($matches)::DOUBLE/${Dedup.NumHashes} AS est_jaccard
       |  FROM cand JOIN sig sa ON id_a=sa.doc_id JOIN sig sb ON id_b=sb.doc_id)
       |WHERE est_jaccard >= 0.5""".stripMargin
  }

  /** Multi-probe (leave-one-out band key) LSH pairs — mirrors
    * Dedup.minhashLshPairsMultiProbe: candidates agree on ≥ r-1 of a
    * band's rows; output keeps est ≥ 0.35.
    */
  private val lshMultiProbeSql = {
    val r = Dedup.NumHashes / Dedup.Bands
    val bands = (0 until Dedup.Bands).flatMap { b =>
      (0 until r).map { drop =>
        val key = (0 until r).filter(_ != drop)
          .map(i => s"mh${b * r + i}::VARCHAR").mkString("||'_'||")
        s"SELECT doc_id, $b AS band, ${drop + 1} AS var, $key AS bkey FROM sig"
      }
    }.mkString(" UNION ALL ")
    val matches = (0 until Dedup.NumHashes)
      .map(i => s"(sa.mh$i = sb.mh$i)::INT").mkString(" + ")
    s"""WITH sig AS ($sigSql),
       |bands AS ($bands),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM bands a
       |  JOIN bands b ON a.band=b.band AND a.var=b.var AND a.bkey=b.bkey AND a.doc_id<b.doc_id)
       |SELECT id_a, id_b, est_jaccard FROM (
       |  SELECT id_a, id_b, ($matches)::DOUBLE/${Dedup.NumHashes} AS est_jaccard
       |  FROM cand JOIN sig sa ON id_a=sa.doc_id JOIN sig sb ON id_b=sb.doc_id)
       |WHERE est_jaccard >= 0.35 ORDER BY id_a, id_b""".stripMargin
  }

  /** Robust winnowing re-derived — ends at CTE `wfp(doc_id, pos, fp)`;
    * shared by q_winnow and the q_winnow_pairs decision layer.
    */
  private lazy val winnowCtes: String = {
    val k = graft.operators.TextAnalysis.WinnowK
    val w = graft.operators.TextAnalysis.WinnowW
    s"""p AS (SELECT doc_id, text,
       |    CAST(unnest(generate_series(1, length(text) - ${k - 1})) AS BIGINT) AS pos
       |  FROM documents WHERE length(text) >= ${k + w - 1}),
       |h AS (SELECT doc_id, pos, ${rollSql(s"substr(text, pos, $k)")} AS h FROM p),
       |sel AS (SELECT doc_id, pos,
       |    min({'h': h, 'np': -pos}) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS m,
       |    max(pos) OVER (PARTITION BY doc_id) AS n_pos
       |  FROM h),
       |wfp AS (SELECT DISTINCT doc_id, -(m.np) AS pos, m.h AS fp
       |  FROM sel WHERE pos <= n_pos - ${w - 1})""".stripMargin
  }

  /** The exact-substring span table re-derived (Dedup.substringDedupOn
    * twin): stride-1 window hashes via the per-substring rolling fold,
    * count-over-key repeats, gaps-and-islands merge — ends at CTE
    * `spans(doc_id, span_start, span_end, span_len, n_windows)`.
    * Shared by q_substring_dedup and q_substring_clip.
    */
  private lazy val substringSpanCtes: String = substringSpanCtesFor(paranoid = false)

  private def substringSpanCtesFor(paranoid: Boolean): String = {
    val L = graft.operators.Dedup.SubstringL
    val h3sel =
      if (paranoid) s",\n    ${rollSql3(s"substr(text, pos, $L)")} AS h3"
      else ""
    val keys = if (paranoid) "h1, h2, h3" else "h1, h2"
    s"""p AS (SELECT doc_id, text,
       |    CAST(unnest(generate_series(1, length(text) - ${L - 1})) AS BIGINT) AS pos
       |  FROM documents WHERE length(text) >= $L),
       |g AS (SELECT doc_id, pos,
       |    ${rollSql(s"substr(text, pos, $L)")} AS h1,
       |    ${rollSql2(s"substr(text, pos, $L)")} AS h2$h3sel FROM p),
       |rep AS (SELECT doc_id, pos FROM (
       |    SELECT doc_id, pos, count(*) OVER (PARTITION BY $keys) AS n FROM g) t
       |  WHERE n >= 2),
       |re AS (SELECT doc_id, pos,
       |    max(pos + $L) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS run_end FROM rep),
       |mk AS (SELECT doc_id, pos,
       |    CASE WHEN run_end IS NULL OR pos > run_end THEN 1 ELSE 0 END AS new_s FROM re),
       |sid AS (SELECT doc_id, pos,
       |    sum(new_s) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS sid FROM mk),
       |spans AS (SELECT doc_id, min(pos) AS span_start, max(pos) + $L AS span_end,
       |    max(pos) + $L - min(pos) AS span_len, count(*) AS n_windows
       |  FROM sid GROUP BY doc_id, sid)""".stripMargin
  }

  /** Gaps-and-islands sessionization — shared by the batch q_sessions
    * and its replay-clock streaming twin q_stream_sessions_gated
    * (which closes every session inline, reproducing the batch rows).
    * The split is STRICTLY-greater-than-gap: Spark's `session_window`
    * merges an event landing exactly at the previous session's end
    * (adjacent per-event windows coalesce), so `>=` here would split
    * a session the engine merges whenever a gap hits 30:00.000000
    * exactly — the round-14 boundary spec pins this.
    */
  /** q_phrase_search's DuckDB twin, generated FROM the library's
    * [[graft.operators.Retrieval.PhraseQuery]] (terms, join count, and
    * adjacency offsets all derive from it) so the oracle can never
    * drift from the Spark query when the phrase changes.
    */
  /** The whole-corpus BM25 re-derivation, shared by q_bm25 and its
    * incremental twin q_delta_bm25 (the maintained index equals the
    * rebuild field-for-field — every stored quantity is an
    * associative long sum over disjoint doc sets).
    */
  private lazy val bm25Sql: String = {
    val vals = graft.operators.Retrieval.QueryTerms
      .map { case (q, t) => s"($q,'$t')" }.mkString(",")
    s"""WITH tok AS (SELECT doc_id, lower(w) AS word FROM
       |  (SELECT doc_id, unnest(string_split_regex(text,'[^a-zA-Z]')) AS w FROM documents) WHERE w<>''),
       |tf AS (SELECT doc_id, word, count(*) AS cnt FROM tok GROUP BY 1, 2),
       |dl AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS dl FROM tf GROUP BY 1),
       |dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
       |stats AS (SELECT CAST(sum(dl) AS BIGINT)::DOUBLE / count(*)::DOUBLE AS avgdl,
       |  count(*) AS n_docs FROM dl),
       |q AS (SELECT * FROM (VALUES $vals) AS t(query_id, word)),
       |scored AS (SELECT query_id, tf.doc_id,
       |  CAST(sum(CAST(round((ln(1.0 + (n_docs::DOUBLE - df::DOUBLE + 0.5) / (df::DOUBLE + 0.5)) *
       |    ((cnt::DOUBLE * 2.2) / (cnt::DOUBLE + 1.2 * (0.25 + 0.75 * (dl::DOUBLE / avgdl))))) * 1048576.0) AS BIGINT)) AS BIGINT) AS score_fp
       |  FROM q JOIN tf USING(word) JOIN dfreq USING(word) JOIN dl ON tf.doc_id = dl.doc_id, stats
       |  GROUP BY 1, 2),
       |r AS (SELECT query_id, doc_id, score_fp,
       |  row_number() OVER (PARTITION BY query_id ORDER BY score_fp DESC, doc_id) AS rank FROM scored)
       |SELECT query_id, rank, doc_id, score_fp::DOUBLE / 1048576.0 AS score
       |FROM r WHERE rank <= ${graft.operators.Retrieval.TopK}
       |ORDER BY query_id, rank""".stripMargin
  }

  private val phraseSearchSql: String = {
    val terms = graft.operators.Retrieval.PhraseQuery
    val inList = terms.map(t => s"'$t'").mkString(", ")
    val joins = terms.zipWithIndex.drop(1).map { case (w, i) =>
      s"JOIN p t$i ON a.doc_id = t$i.doc_id AND t$i.pos = a.pos + $i AND t$i.tok = '$w'"
    }.mkString("\n")
    s"""WITH toks AS (
       |  SELECT doc_id,
       |         list_filter(string_split_regex(lower(text), '[^a-z]'),
       |                     x -> x <> '') AS arr
       |  FROM documents),
       |p AS (SELECT doc_id, g.i - 1 AS pos, arr[g.i] AS tok
       |      FROM toks, LATERAL (SELECT unnest(generate_series(1, len(arr))) AS i) g
       |      WHERE arr[g.i] IN ($inList))
       |SELECT a.doc_id, a.pos
       |FROM p a
       |$joins
       |WHERE a.tok = '${terms.head}'
       |ORDER BY a.doc_id, a.pos""".stripMargin
  }

  /** q_phrase_batch's DuckDB twin — a per-phrase adjacency-join CTE
    * union (the BPE chained-CTE precedent), generated FROM
    * [[graft.operators.Retrieval.PhraseBatch]] so phrases, slot
    * offsets, and ids can never drift from the Spark query. The Spark
    * side resolves all phrases through ONE slot-count join; the oracle
    * proves each phrase independently and unions — different
    * algorithms, same answer, which is the point of the gate.
    */
  private val phraseBatchSql: String = {
    val batch = graft.operators.Retrieval.PhraseBatch
    val vocab = batch.flatMap(_._2).distinct.map(t => s"'$t'").mkString(", ")
    val arms = batch.map { case (qid, terms) =>
      val joins = terms.zipWithIndex.drop(1).map { case (w, i) =>
        s"JOIN p t$i ON a.doc_id = t$i.doc_id AND t$i.pos = a.pos + $i " +
          s"AND t$i.tok = '$w'"
      }.mkString(" ")
      s"SELECT CAST($qid AS BIGINT) AS query_id, a.doc_id, a.pos " +
        s"FROM p a $joins WHERE a.tok = '${terms.head}'"
    }.mkString("\nUNION ALL\n")
    s"""WITH toks AS (
       |  SELECT doc_id,
       |         list_filter(string_split_regex(lower(text), '[^a-z]'),
       |                     x -> x <> '') AS arr
       |  FROM documents),
       |p AS (SELECT doc_id, g.i - 1 AS pos, arr[g.i] AS tok
       |      FROM toks, LATERAL (SELECT unnest(generate_series(1, len(arr))) AS i) g
       |      WHERE arr[g.i] IN ($vocab))
       |SELECT query_id, doc_id, pos FROM (
       |$arms
       |) ORDER BY query_id, doc_id, pos""".stripMargin
  }

  /** q_proximity_search's twin: the phrase adjacency join with the
    * `pos + i` equality relaxed to the ordered band
    * prev < next <= prev + k, start positions DISTINCT — generated
    * from the same PhraseQuery/ProximityK the Spark entry uses.
    */
  private val proximitySearchSql: String = {
    val terms = graft.operators.Retrieval.PhraseQuery
    val k = graft.operators.Retrieval.ProximityK
    val inList = terms.map(t => s"'$t'").mkString(", ")
    val joins = terms.zipWithIndex.drop(1).map { case (w, i) =>
      val prev = if (i == 1) "a.pos" else s"t${i - 1}.pos"
      s"JOIN p t$i ON a.doc_id = t$i.doc_id AND t$i.pos > $prev " +
        s"AND t$i.pos <= $prev + $k AND t$i.tok = '$w'"
    }.mkString("\n")
    s"""WITH toks AS (
       |  SELECT doc_id,
       |         list_filter(string_split_regex(lower(text), '[^a-z]'),
       |                     x -> x <> '') AS arr
       |  FROM documents),
       |p AS (SELECT doc_id, g.i - 1 AS pos, arr[g.i] AS tok
       |      FROM toks, LATERAL (SELECT unnest(generate_series(1, len(arr))) AS i) g
       |      WHERE arr[g.i] IN ($inList))
       |SELECT DISTINCT a.doc_id, a.pos
       |FROM p a
       |$joins
       |WHERE a.tok = '${terms.head}'
       |ORDER BY a.doc_id, a.pos""".stripMargin
  }

  /** q_proximity_batch's twin — per-phrase band-join CTE arms unioned
    * (the phraseBatchSql precedent with the proximity band predicate),
    * generated FROM [[graft.operators.Retrieval.ProximityBatch]] /
    * ProximityK so the batch can never drift from the Spark query. The
    * Spark side resolves all phrases through ONE frontier; the oracle
    * proves each independently — different algorithms, same answer.
    */
  private val proximityBatchSql: String = {
    val batch = graft.operators.Retrieval.ProximityBatch
    val k = graft.operators.Retrieval.ProximityK
    val vocab = batch.flatMap(_._2).distinct.map(t => s"'$t'").mkString(", ")
    val arms = batch.map { case (qid, terms) =>
      val joins = terms.zipWithIndex.drop(1).map { case (w, i) =>
        val prev = if (i == 1) "a.pos" else s"t${i - 1}.pos"
        s"JOIN p t$i ON a.doc_id = t$i.doc_id AND t$i.pos > $prev " +
          s"AND t$i.pos <= $prev + $k AND t$i.tok = '$w'"
      }.mkString(" ")
      s"SELECT DISTINCT CAST($qid AS BIGINT) AS query_id, a.doc_id, a.pos " +
        s"FROM p a $joins WHERE a.tok = '${terms.head}'"
    }.mkString("\nUNION ALL\n")
    s"""WITH toks AS (
       |  SELECT doc_id,
       |         list_filter(string_split_regex(lower(text), '[^a-z]'),
       |                     x -> x <> '') AS arr
       |  FROM documents),
       |p AS (SELECT doc_id, g.i - 1 AS pos, arr[g.i] AS tok
       |      FROM toks, LATERAL (SELECT unnest(generate_series(1, len(arr))) AS i) g
       |      WHERE arr[g.i] IN ($vocab))
       |SELECT query_id, doc_id, pos FROM (
       |$arms
       |) ORDER BY query_id, doc_id, pos""".stripMargin
  }

  /** q_join_broadcast; the salted-join plan must reproduce it byte-for-byte. */
  private val brandRevenueSql =
    """SELECT p_brand, round(sum(l_extendedprice),2) AS brand_revenue, count(*) AS n_items
      |FROM lineitem JOIN part ON l_partkey=p_partkey
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  /** q_tumbling; its streaming twin executes the same aggregation. */
  private val hourlyEventsSql =
    s"""SELECT strftime(time_bucket(INTERVAL '$TumblingWindow', ts), '%Y-%m-%d %H:%M:%S') AS hour,
      |event_type, count(*) AS n, round(sum(value),2) AS total_value
      |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin

  private val sessionsSql: String =
    s"""WITH flagged AS (SELECT user_id, ts, value,
      |  CASE WHEN lag(ts) OVER w IS NULL
      |       OR ts - lag(ts) OVER w > INTERVAL $SessionGapMinutes MINUTE THEN 1 ELSE 0 END AS new_s
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |sess AS (SELECT user_id, ts, value,
      |  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM flagged)
      |SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      |count(*) AS n_events, round(sum(value),2) AS session_value
      |FROM sess GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin

  /** Every query, named once, with its builder and its oracle. */
  private lazy val registry: Map[String, Query] = Map(
    // — core relational (SURVEY.md §2.2 scans/filter/agg/join/sort/set) —
    "q_pricing_summary" -> graded(Relational.pricingSummary _,
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity),2) AS sum_qty,
        |round(sum(l_extendedprice),2) AS sum_base_price,
        |round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
        |round(sum(l_extendedprice*(1-l_discount)*(1+l_tax)),2) AS sum_charge,
        |round(avg(l_quantity),4) AS avg_qty,
        |round(avg(l_extendedprice),4) AS avg_price,
        |round(avg(l_discount),4) AS avg_disc,
        |count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin),

    "q_filter_project" -> graded(Relational.filterProject _,
      """SELECT l_orderkey, l_linenumber,
        |l_extendedprice*(1-l_discount) AS net_price,
        |CAST(l_quantity AS BIGINT) AS qty
        |FROM lineitem WHERE l_returnflag='R' AND l_quantity>45
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    "q_join_agg" -> graded(Relational.joinAgg _,
      """SELECT r_name, n_name, round(sum(o_totalprice),2) AS revenue, count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey=c_custkey
        |JOIN nation ON c_nationkey=n_nationkey JOIN region ON n_regionkey=r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin),

    "q_join_broadcast" -> graded(Relational.joinBroadcast _, brandRevenueSql),

    "q_semi_join" -> graded(Relational.semiJoin _,
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey=c_custkey AND o_totalprice>400000)
        |ORDER BY c_custkey""".stripMargin),

    "q_anti_join" -> graded(Relational.antiJoin _,
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey=c_custkey AND o_totalprice>400000)
        |ORDER BY c_custkey""".stripMargin),

    "q_outer_join" -> graded(Relational.outerJoin _,
      """SELECT c_custkey, coalesce(cnt,0) AS n_orders, round(coalesce(tot,0),2) AS total_spent
        |FROM customer LEFT JOIN
        |(SELECT o_custkey, count(*) AS cnt, sum(o_totalprice) AS tot FROM orders GROUP BY o_custkey) o
        |ON c_custkey=o.o_custkey ORDER BY c_custkey""".stripMargin),

    "q_full_outer" -> graded(Relational.fullOuterJoin _,
      """WITH p AS (SELECT o_custkey, count(*) AS n_p FROM orders WHERE o_orderstatus='P' GROUP BY 1),
        |f AS (SELECT o_custkey, count(*) AS n_f FROM orders WHERE o_orderstatus='F' GROUP BY 1)
        |SELECT coalesce(p.o_custkey, f.o_custkey) AS custkey,
        |coalesce(n_p, 0) AS n_p, coalesce(n_f, 0) AS n_f
        |FROM p FULL OUTER JOIN f ON p.o_custkey=f.o_custkey ORDER BY custkey""".stripMargin),

    "q_cross_join" -> graded(Relational.crossJoinSmall _,
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin),

    "q_typed_topk" -> graded(Relational.typedTopK _,
      """SELECT o_orderstatus, rn, price, o_orderkey FROM (
        |SELECT o_orderstatus,
        |row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey) AS rn,
        |round(o_totalprice, 2) AS price, o_orderkey FROM orders)
        |WHERE rn <= 3 ORDER BY o_orderstatus, rn""".stripMargin),

    "q_range_join" -> graded(Relational.rangeJoin _,
      """SELECT o_orderpriority, count(*) AS n_shipped_90d
        |FROM lineitem JOIN orders ON l_orderkey=o_orderkey
        |AND l_shipdate>=o_orderdate AND l_shipdate <= o_orderdate + INTERVAL 90 DAY
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    "q_topk" -> graded(Relational.topK _,
      """SELECT o_orderkey, o_custkey, round(o_totalprice,2) AS price
        |FROM orders ORDER BY price DESC, o_orderkey LIMIT 10""".stripMargin),

    "q_sort" -> graded(Relational.distributedSort _,
      """SELECT l_orderkey, l_linenumber, l_shipdate, l_returnflag
        |FROM lineitem ORDER BY l_shipdate, l_orderkey, l_linenumber""".stripMargin),

    "q_intersect" -> graded(Relational.intersectCustomers _,
      """SELECT o_custkey FROM orders WHERE o_orderstatus='O'
        |INTERSECT SELECT o_custkey FROM orders WHERE o_orderstatus='F'
        |ORDER BY o_custkey""".stripMargin),

    "q_except" -> graded(Relational.exceptCustomers _,
      """SELECT o_custkey FROM orders WHERE o_orderstatus='O'
        |EXCEPT SELECT o_custkey FROM orders WHERE o_orderstatus='P'
        |ORDER BY o_custkey""".stripMargin),

    "q_union_distinct" -> graded(Relational.unionDistinct _,
      """SELECT DISTINCT nationkey FROM (
        |SELECT CAST(c_nationkey AS INT) AS nationkey FROM customer
        |UNION ALL SELECT CAST(s_nationkey AS INT) FROM supplier)
        |ORDER BY nationkey""".stripMargin),

    "q_distinct_agg" -> graded(Relational.distinctAgg _,
      """SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supps,
        |count(DISTINCT l_partkey) AS n_parts, count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    "q_approx_distinct" -> rowsOnly(Relational.approxDistinctAgg _),
    "q_hll_sketch" -> rowsOnly(Relational.hllSketchRollup _),

    "q_rollup" -> graded(Relational.rollupAgg _,
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity),2) AS sum_qty,
        |count(*) AS n_rows,
        |CAST(grouping(l_returnflag)*2 + grouping(l_linestatus) AS BIGINT) AS gid
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),

    "q_grouping_sets" -> graded(Relational.groupingSetsAgg _,
      """SELECT o_orderstatus, o_orderpriority,
        |count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue,
        |CAST(grouping(o_orderstatus)*2 + grouping(o_orderpriority) AS BIGINT) AS gid
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin),

    "q_unpivot" -> graded(Relational.unpivotMeasures _,
      """SELECT l_returnflag, measure, count(*) AS n, round(sum(val), 2) AS total
        |FROM (
        |  SELECT l_returnflag, 'l_quantity' AS measure, l_quantity AS val FROM lineitem
        |  UNION ALL
        |  SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL
        |  SELECT l_returnflag, 'l_discount', l_discount FROM lineitem)
        |GROUP BY 1, 2 ORDER BY l_returnflag, measure""".stripMargin),

    // VARIANT (Spark 4.x): parse_json once, typed variant_get access
    "q_variant" -> graded(Scalars.variantFuncs _,
      """SELECT k % 5 AS k_bucket, count(*) AS n_events,
        |CAST(sum(k) AS BIGINT) AS sum_k, round(sum(value), 2) AS sum_value
        |FROM (SELECT CAST(json_extract_string(props,'$.k') AS BIGINT) AS k, value FROM events)
        |GROUP BY 1 ORDER BY k_bucket""".stripMargin),

    "q_exists_subquery" -> graded(Relational.existsSubquery _,
      """SELECT c_mktsegment, count(*) AS n_customers
        |FROM customer c
        |WHERE EXISTS (
        |  SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |    AND o.o_totalprice > (SELECT avg(o_totalprice) FROM orders))
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    "q_cube" -> graded(Relational.cubeAgg _,
      """SELECT o_orderstatus, o_orderpriority, round(sum(o_totalprice),2) AS sum_price,
        |count(*) AS n_orders,
        |CAST(grouping(o_orderstatus)*2 + grouping(o_orderpriority) AS BIGINT) AS gid
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin),

    "q_case_when" -> graded(Relational.caseWhenAgg _,
      """SELECT o_orderstatus,
        |CAST(sum(CASE WHEN o_totalprice>200000 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
        |CAST(sum(CASE WHEN o_totalprice<=200000 THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
        |round(avg(CASE WHEN o_orderpriority='1-URGENT' THEN o_totalprice END),2) AS avg_urgent
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    "q_argmax" -> graded(Relational.argMaxAgg _,
      """WITH ranked AS (SELECT o_orderstatus, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey DESC) AS rd,
        |  row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice ASC, o_orderkey ASC) AS ra
        |  FROM orders)
        |SELECT o_orderstatus,
        |max(CASE WHEN rd=1 THEN o_orderkey END) AS top_orderkey,
        |round(max(o_totalprice), 2) AS top_price,
        |max(CASE WHEN ra=1 THEN o_orderkey END) AS bottom_orderkey
        |FROM ranked GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    "q_embedding_stats" -> graded(Similarity.embeddingStats _,
      """SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
        |round(embedding[1]::DOUBLE, 6) AS first_val,
        |round(list_sum(list_transform(embedding[1:8], x -> x::DOUBLE)), 6) AS head8_sum,
        |round(list_max(embedding)::DOUBLE, 6) AS max_val,
        |round(list_min(embedding)::DOUBLE, 6) AS min_val
        |FROM embeddings ORDER BY vec_id""".stripMargin),

    "q_asof_join" -> graded(Relational.asofJoin _,
      """WITH od AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS last_orderkey,
        |  arg_max(o_totalprice, o_orderkey) AS last_price FROM orders GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, od.last_orderkey, od.last_price
        |FROM events e ASOF JOIN od ON e.user_id = od.o_custkey AND e.ts >= od.o_orderdate
        |ORDER BY e.event_id""".stripMargin),

    "q_pivot" -> graded(Relational.pivotAgg _,
      """SELECT o_orderpriority,
        |round(sum(o_totalprice) FILTER (o_orderstatus='F'),2) AS "F",
        |round(sum(o_totalprice) FILTER (o_orderstatus='O'),2) AS "O",
        |round(sum(o_totalprice) FILTER (o_orderstatus='P'),2) AS "P"
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    "q_percentile" -> graded(Relational.percentileAgg _,
      """SELECT l_returnflag,
        |quantile_cont(l_quantity, 0.25) AS p25, quantile_cont(l_quantity, 0.5) AS p50,
        |quantile_cont(l_quantity, 0.75) AS p75, quantile_cont(l_quantity, 0.95) AS p95
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // single-pass co-moment family: stddev/var/corr/covar/regr_slope
    "q_stats_agg" -> graded(Relational.statsAgg _,
      """SELECT l_returnflag,
        |round(stddev_samp(l_quantity), 6) AS qty_sd,
        |round(var_samp(l_quantity), 6) AS qty_var,
        |round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
        |round(covar_samp(l_quantity, l_discount), 6) AS qty_disc_cov,
        |round(regr_slope(l_extendedprice, l_quantity), 6) AS price_per_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // Deequ-style constraint report: one scan pass + one FK anti-join
    "q_data_quality" -> graded(Relational.dataQuality _,
      """WITH m AS (SELECT CAST(count(*) AS BIGINT) AS row_count,
        |  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_custkey,
        |  CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS dup_orderkey,
        |  CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS nonpositive_totalprice
        |  FROM orders),
        |f AS (SELECT CAST(count(*) AS BIGINT) AS fk_orphans FROM orders o
        |  WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        |SELECT chk, metric FROM (
        |  SELECT 'row_count' AS chk, row_count AS metric FROM m
        |  UNION ALL SELECT 'null_custkey', null_custkey FROM m
        |  UNION ALL SELECT 'dup_orderkey', dup_orderkey FROM m
        |  UNION ALL SELECT 'nonpositive_totalprice', nonpositive_totalprice FROM m
        |  UNION ALL SELECT 'fk_orphans', fk_orphans FROM f
        |) ORDER BY chk""".stripMargin),

    // Z-order (Morton) clustering key for multi-column data skipping
    "q_zorder" -> graded(Relational.zorderKey _,
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |CAST(list_sum(list_transform(generate_series(0, 19), i ->
        |  (((l_partkey >> i) & 1) << (2*i)) + (((l_suppkey >> i) & 1) << (2*i + 1)))) AS BIGINT) AS zkey
        |FROM lineitem
        |ORDER BY zkey, l_orderkey, l_linenumber LIMIT 2000""".stripMargin),

    // the GK-sketch twin of q_percentile (mergeable, sort-free — the
    // 100 TB form; approximate -> rows-only, bounds pinned in spec)
    "q_approx_percentile" -> rowsOnly(Relational.approxPercentileAgg _),

    // — window functions —
    "q_window_rank" -> graded(Windows.windowRank _,
      """SELECT o_custkey, o_orderkey, price, rn FROM (
        |SELECT o_custkey, o_orderkey, round(o_totalprice,2) AS price,
        |row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin),

    "q_window_distribution" -> graded(Windows.windowDistribution _,
      """SELECT o_orderstatus, o_orderkey,
        |CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |percent_rank() OVER w AS pct_rank,
        |cume_dist() OVER w AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderstatus, o_orderkey""".stripMargin),

    "q_window_running" -> graded(Windows.windowRunning _,
      """SELECT o_custkey, o_orderkey,
        |round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) AS running_total,
        |round(coalesce(lag(o_totalprice,1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),0),2) AS prev_price
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin),

    "q_window_range" -> graded(Windows.windowRange _,
      """SELECT o_custkey, o_orderkey,
        |round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate
        |  RANGE BETWEEN INTERVAL 90 DAYS PRECEDING AND CURRENT ROW), 2) AS trailing_90d
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin),

    "q_group_topk" -> graded(Windows.groupTopK _,
      """SELECT c_mktsegment, o_orderkey, price, rn FROM (
        |SELECT c_mktsegment, o_orderkey, round(o_totalprice,2) AS price,
        |row_number() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |FROM orders JOIN customer ON o_custkey=c_custkey)
        |WHERE rn <= 2 ORDER BY c_mktsegment, rn""".stripMargin),

    "q_gap_fill" -> graded(Windows.gapFill _,
      """WITH hourly AS (SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS h,
        |  count(*) AS n, round(sum(value), 2) AS total FROM events GROUP BY 1, 2),
        |bounds AS (SELECT event_type, min(h) AS h0, max(h) AS h1 FROM hourly GROUP BY 1),
        |spine AS (SELECT event_type, unnest(generate_series(h0, h1, INTERVAL '1 hour')) AS h FROM bounds),
        |j AS (SELECT s.event_type, s.h, coalesce(n, 0) AS n_filled, total
        |  FROM spine s LEFT JOIN hourly USING (event_type, h))
        |SELECT event_type, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour, n_filled,
        |last_value(total IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY h
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carried
        |FROM j ORDER BY event_type, hour""".stripMargin),

    // the salted two-phase plan must produce byte-identical results to
    // the plain plan — same oracle proves the rewrite is lossless
    "q_salted_wordcount" -> graded(Skew.saltedWordCount _, wordcountSql),
    // the salted-join plan must reproduce the plain join byte-for-byte
    "q_salted_join" -> graded(Skew.saltedJoinBrand _, brandRevenueSql),

    // — scalar function groups —
    "q_string_funcs" -> graded(Scalars.stringFuncs _,
      """SELECT p_partkey, upper(p_name) AS name_upper,
        |CAST(length(p_name) AS BIGINT) AS name_len,
        |substr(p_name,1,5) AS name_pre,
        |regexp_extract(p_name, '^([a-z]+)', 1) AS first_word,
        |p_brand||'|'||p_type AS brand_type,
        |lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad
        |FROM part ORDER BY p_partkey""".stripMargin),

    // Levenshtein top-3 fuzzy entity matching (integer distances)
    "q_fuzzy_match" -> graded(Scalars.fuzzyMatch _,
      """WITH probes AS (SELECT p_partkey AS probe_id,
        |  substr(p_name,1,1)||substr(p_name,3) AS probe FROM part WHERE p_partkey < 5),
        |d AS (SELECT probe_id, p.p_partkey, p.p_name,
        |  CAST(levenshtein(probe, p.p_name) AS BIGINT) AS dist FROM part p, probes),
        |r AS (SELECT probe_id, p_partkey, p_name, dist,
        |  row_number() OVER (PARTITION BY probe_id ORDER BY dist, p_partkey) AS rank FROM d)
        |SELECT probe_id, rank, p_partkey, p_name, dist FROM r WHERE rank <= 3
        |ORDER BY probe_id, rank""".stripMargin),

    "q_date_funcs" -> graded(Scalars.dateFuncs _,
      """SELECT strftime(o_orderdate, '%Y-%m') AS month, count(*) AS n_orders,
        |CAST(min(day(o_orderdate)) AS BIGINT) AS min_dom,
        |CAST(max(isodow(o_orderdate)-1) AS BIGINT) AS max_dow,
        |round(sum(o_totalprice),2) AS month_revenue
        |FROM orders GROUP BY 1 ORDER BY month""".stripMargin),

    "q_math_funcs" -> graded(Scalars.mathFuncs _,
      """SELECT l_returnflag, round(sqrt(sum(l_quantity)),4) AS sqrt_qty,
        |round(ln(sum(l_extendedprice)),4) AS ln_price,
        |round(pow(avg(l_discount),2),6) AS disc_sq,
        |CAST(ceil(max(l_tax)*100) AS BIGINT) AS max_tax_pct,
        |CAST(floor(min(l_extendedprice)) AS BIGINT) AS min_price_fl,
        |round(abs(min(l_quantity-25)),2) AS abs_qty_dev
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    "q_json" -> graded(Scalars.jsonFuncs _,
      """SELECT event_type, count(*) AS n_events, CAST(sum(k) AS BIGINT) AS sum_k,
        |min(k) AS min_k, max(k) AS max_k FROM (
        |SELECT event_type, CAST(json_extract_string(props,'$.k') AS BIGINT) AS k FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    "q_map_funcs" -> graded(Scalars.mapFuncs _,
      s"""SELECT doc_id, count(*) AS n_distinct_words,
         |coalesce(max(CASE WHEN word = 'THE' THEN cnt END), 0) AS n_the,
         |CAST(sum(CASE WHEN cnt >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_frequent
         |FROM (SELECT doc_id, word, count(*) AS cnt FROM ($tokSql) GROUP BY 1, 2)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    "q_null_safe_join" -> graded(Scalars.nullSafeJoin _,
      """WITH base AS (SELECT event_type,
        |  nullif(CAST(json_extract_string(props, '$.k') AS BIGINT) % 7, 0) AS bucket
        |  FROM events),
        |c AS (SELECT bucket, count(*) AS n_click FROM base WHERE event_type='click' GROUP BY 1),
        |v AS (SELECT bucket, count(*) AS n_view FROM base WHERE event_type='view' GROUP BY 1)
        |SELECT c.bucket, n_click, n_view FROM c
        |JOIN v ON c.bucket IS NOT DISTINCT FROM v.bucket
        |ORDER BY c.bucket NULLS FIRST""".stripMargin),

    "q_grep" -> graded(Scalars.grep _,
      """SELECT doc_id, source, lang FROM documents
        |WHERE regexp_matches(text, 'window.*join|join.*window') ORDER BY doc_id""".stripMargin),

    "q_profile" -> graded(Scalars.profile _, {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      cols.map { c =>
        s"""SELECT '$c' AS "column", count(*) AS n_rows,
           |CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           |count(DISTINCT $c) AS n_distinct,
           |round(min($c), 4) AS min_val, round(max($c), 4) AS max_val,
           |round(avg($c), 4) AS avg_val FROM lineitem""".stripMargin
      }.mkString("", " UNION ALL ", " ORDER BY \"column\"")
    }),

    "q_histogram" -> graded(Scalars.histogram _,
      """SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
        |count(*) AS n, round(sum(o_totalprice), 2) AS bucket_total
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin),

    // — text analysis / word count (the reference application) —
    "q_wordcount" -> graded(TextAnalysis.wordCount _, wordcountSql),

    "q_mapreduce_wordcount" -> graded((s: SparkSession, dir: String) => {
      import s.implicits._
      val texts = Tables.documents(s, dir).select(col("text")).as[String]
      MapReduceJob.wordCount(s, texts).toDF("word", "cnt").orderBy(col("word"))
    }, wordcountSql),

    "q_inverted_index" -> graded(TextAnalysis.invertedIndex _,
      s"SELECT DISTINCT word, doc_id FROM ($tokSql) ORDER BY word, doc_id"),

    // the reference's literal text-dir input surface (S1/S2), graded:
    // text-dir source surface: DuckDB reads the same files via read_text
    "q_text_wordcount" -> graded(TextAnalysis.textDirWordCount _,
      s"""SELECT upper(w) AS word, count(*) AS cnt FROM (
        |SELECT unnest(string_split_regex(content, '[^a-zA-Z]')) AS w
        |FROM read_text('${TextAnalysis.ReferenceCorpusDir}/*.txt'))
        |WHERE w <> '' GROUP BY word ORDER BY word""".stripMargin),

    "q_text_stats" -> graded(TextAnalysis.textDirStats _,
      s"""SELECT fname, count(*) AS n_tokens, count(DISTINCT word) AS n_distinct,
        |CAST(max(length(word)) AS BIGINT) AS max_word_len FROM (
        |SELECT regexp_extract(filename, '([^/]+)$$', 1) AS fname, upper(w) AS word FROM (
        |  SELECT filename, unnest(string_split_regex(content, '[^a-zA-Z]')) AS w
        |  FROM read_text('${TextAnalysis.ReferenceCorpusDir}/*.txt'))
        |WHERE w <> '')
        |GROUP BY fname ORDER BY fname""".stripMargin),

    // partitioned sink round-trip (K1 generalization), graded:
    // sink round-trip: the oracle aggregates the ORIGINAL table — the
    // Spark side must survive write→partition→pruned-read unchanged
    "q_sink_roundtrip" -> graded(graft.sources.Sinks.partitionedRoundTrip _,
      """SELECT o_orderpriority, count(*) AS n_orders,
        |round(sum(o_totalprice), 2) AS revenue
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // bucketed (co-located join) storage round-trip, graded:
    "q_bucketed_join" -> graded(graft.sources.Sinks.bucketedJoinRoundTrip _,
      """SELECT c_mktsegment, count(*) AS n_orders,
        |round(sum(o_totalprice), 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    // dynamic-partition-pruned star join over a partitioned landing:
    "q_dpp_join" -> graded(graft.sources.Sinks.dppJoinRoundTrip _,
      """SELECT ship_year, count(*) AS n_items, round(sum(l_extendedprice), 2) AS revenue
        |FROM (SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year, l_extendedprice
        |      FROM lineitem) f
        |WHERE ship_year IN (SELECT DISTINCT CAST(year(o_orderdate) AS INTEGER)
        |                    FROM orders
        |                    WHERE o_orderpriority = '1-URGENT'
        |                      AND o_orderdate >= TIMESTAMP '1996-01-01'
        |                      AND o_orderdate < TIMESTAMP '1998-01-01')
        |GROUP BY ship_year ORDER BY ship_year""".stripMargin),

    // small-file compaction (storage maintenance), losslessness graded:
    "q_compaction" -> graded(graft.sources.Sinks.compactionRoundTrip(_, _),
      """SELECT o_orderstatus, count(*) AS n_orders,
        |round(sum(o_totalprice), 2) AS revenue,
        |count(DISTINCT o_orderkey) AS n_keys
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // runtime Bloom-filter shuffle reduction (merge-hinted fact join);
    // the default path executes the filtered plan under the conf
    // window via eager checkpoint (a write would re-plan without it)
    "q_bloom_join" -> graded(Relational.bloomFilteredJoin(_, _),
      """SELECT l_returnflag, count(*) AS n_items,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 400000.0
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // cost-based join reorder driven by ANALYZE TABLE statistics (the
    // stats/CBO surface: no hints — the optimizer re-orders a
    // deliberately bad syntactic join order from column stats)
    // join order is semantics-free, so the oracle states the query in
    // the natural order; the Spark side's CBO reorder is graded by
    // PlanAuditSpec, the values by this hash
    "q_cbo_join" -> graded(Relational.cboStarJoin(_, _),
      """SELECT c_mktsegment, count(*) AS n_orders,
        |       round(sum(o_totalprice), 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE n_name = 'NATION_7'
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    // the second CBO lever: stats-driven BROADCAST of the dimension
    // composite (4-relation star, no hints — PlanAuditSpec asserts
    // BHJ-with-stats vs SMJ-without on the orders join)
    // like q_cbo_join: the oracle grades the VALUES (order-invariant);
    // the stats-driven broadcast itself is graded by PlanAuditSpec
    "q_cbo_broadcast" -> graded(Relational.cboStarJoin4(_, _),
      """SELECT c_mktsegment, count(*) AS n_orders,
        |       round(sum(o_totalprice), 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    // text-format (CSV) sink/source round-trip, graded:
    "q_json_roundtrip" -> graded(graft.sources.Sinks.jsonRoundTrip _,
      """SELECT o_orderpriority, count(*) AS n_orders,
        |round(sum(o_totalprice), 2) AS revenue
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    "q_orc_roundtrip" -> graded(graft.sources.Sinks.orcRoundTrip _,
      """SELECT o_custkey % 10 AS bucket, count(*) AS n_orders,
        |round(sum(o_totalprice), 2) AS revenue
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin),

    "q_csv_roundtrip" -> graded(graft.sources.Sinks.csvRoundTrip _,
      """SELECT o_orderstatus, count(*) AS n_orders,
        |round(sum(o_totalprice), 2) AS revenue
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // multiset set-ops (the ALL variants keep duplicates):
    "q_intersect_all" -> graded(Relational.intersectAllParts _,
      """SELECT l_partkey, count(*) AS copies FROM (
        |SELECT l_partkey FROM lineitem WHERE l_returnflag='R'
        |INTERSECT ALL SELECT l_partkey FROM lineitem WHERE l_returnflag='A')
        |GROUP BY l_partkey ORDER BY l_partkey""".stripMargin),

    "q_except_all" -> graded(Relational.exceptAllParts _,
      """SELECT l_partkey, count(*) AS copies FROM (
        |SELECT l_partkey FROM lineitem WHERE l_returnflag='R'
        |EXCEPT ALL SELECT l_partkey FROM lineitem WHERE l_returnflag='A')
        |GROUP BY l_partkey ORDER BY l_partkey""".stripMargin),

    "q_tfidf" -> graded(TextAnalysis.tfidf _,
      """WITH tok AS (SELECT doc_id, lower(w) AS word FROM
        |  (SELECT doc_id, unnest(string_split_regex(text,'[^a-zA-Z]')) AS w FROM documents) WHERE w<>''),
        |tf AS (SELECT doc_id, word, count(*) AS cnt FROM tok GROUP BY 1, 2),
        |dl AS (SELECT doc_id, sum(cnt) AS tot FROM tf GROUP BY 1),
        |dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
        |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
        |SELECT doc_id, word, tfidf, rn FROM (
        |  SELECT doc_id, word, round((cnt::DOUBLE/tot) * ln(n_docs::DOUBLE/df), 6) AS tfidf,
        |  row_number() OVER (PARTITION BY doc_id
        |    ORDER BY round((cnt::DOUBLE/tot) * ln(n_docs::DOUBLE/df), 6) DESC, word) AS rn
        |  FROM tf JOIN dl USING(doc_id) JOIN dfreq USING(word), nd)
        |WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin),

    "q_bigrams" -> graded(TextAnalysis.wordBigrams _,
      """SELECT bigram, count(*) AS cnt FROM (
        |SELECT unnest(list_transform(generate_series(1, greatest(len(toks)-1, 0)),
        |  i -> toks[i]||' '||toks[i+1])) AS bigram FROM (
        |SELECT list_transform(list_filter(string_split_regex(text,'[^a-zA-Z]'), x -> x<>''),
        |  x -> lower(x)) AS toks FROM documents))
        |GROUP BY bigram HAVING count(*) >= 3 ORDER BY bigram""".stripMargin),

    // distributed BPE tokenizer training: vocabulary-bounded merge
    // rounds over exact word counts; rules are O(1) model state
    "q_bpe_merges" -> graded(Tokenizer.bpeMerges _, bpeMergesSql),
    // the learned merges applied corpus-wide (per-doc token counts)
    "q_bpe_tokenize" -> graded(Tokenizer.bpeTokenize _, bpeTokenizeSql),

    // PMI lift of count>=3 bigrams — phrase-vocabulary induction
    // shares q_bigrams' tokenizer; all-long products + ONE division
    // keep the lift double engine-portable (no log-PMI libm risk)
    "q_pmi" -> graded(TextAnalysis.pmiCollocations _,
      """WITH toks AS (
        |SELECT list_transform(list_filter(string_split_regex(text,'[^a-zA-Z]'), x -> x<>''),
        |  x -> lower(x)) AS toks FROM documents),
        |uni AS (SELECT unnest(toks) AS tok FROM toks),
        |ucnt AS (SELECT tok, count(*) AS cnt FROM uni GROUP BY 1),
        |prs AS (SELECT toks[i] AS w1, toks[i+1] AS w2 FROM (
        |  SELECT toks, unnest(generate_series(1, greatest(len(toks)-1, 0))) AS i FROM toks)),
        |pcnt AS (SELECT w1, w2, count(*) AS pair_cnt FROM prs GROUP BY 1, 2),
        |tot AS (SELECT (SELECT sum(cnt) FROM ucnt) AS n_uni,
        |        (SELECT sum(pair_cnt) FROM pcnt) AS n_big)
        |SELECT w1 || ' ' || w2 AS bigram, pair_cnt,
        |  CAST(pair_cnt * n_uni * n_uni AS DOUBLE) /
        |  CAST(n_big * u1.cnt * u2.cnt AS DOUBLE) AS lift
        |FROM pcnt JOIN ucnt u1 ON w1 = u1.tok JOIN ucnt u2 ON w2 = u2.tok, tot
        |WHERE pair_cnt >= 3 ORDER BY bigram""".stripMargin),

    "q_heavy_hitters" -> graded(TextAnalysis.heavyHitters _,
      s"""SELECT word, count(*) AS cnt FROM ($tokSql)
         |GROUP BY word
         |HAVING count(*)::DOUBLE >= 0.01 * (SELECT count(*) FROM ($tokSql))
         |ORDER BY word""".stripMargin),

    "q_token_count" -> graded(TextAnalysis.tokenCount _,
      """SELECT source, CAST(sum(n_words) AS BIGINT) AS total_words,
        |CAST(sum(n_ws) AS BIGINT) AS total_ws_tokens,
        |CAST(sum(n_bpe) AS BIGINT) AS total_bpe_tokens,
        |round(avg(n_words),4) AS avg_words_per_doc, count(*) AS n_docs FROM (
        |SELECT source,
        |len(list_filter(string_split_regex(text,'[^a-zA-Z]'), x -> x<>'')) AS n_words,
        |len(list_filter(string_split_regex(text,'\s+'), x -> x<>'')) AS n_ws,
        |len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe
        |FROM documents) GROUP BY source ORDER BY source""".stripMargin),

    "q_text_quality" -> graded(TextAnalysis.textQuality _,
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS text_len,
        |CAST(len(toks) AS BIGINT) AS n_words,
        |round(len(list_filter(toks, x -> lower(x) IN ('the','a','of','and','to','in','is','it')))::DOUBLE
        |  / greatest(len(toks),1), 4) AS stopword_ratio,
        |round(length(regexp_replace(text,'[^a-zA-Z]','','g'))::DOUBLE
        |  / greatest(length(text),1), 4) AS alpha_ratio
        |FROM (SELECT doc_id, text,
        |  list_filter(string_split_regex(text,'[^a-zA-Z]'), x -> x<>'') AS toks
        |FROM documents) ORDER BY doc_id""".stripMargin),

    "q_lang_id" -> graded(TextAnalysis.langId _,
      """SELECT doc_id,
        |CASE WHEN hits_fr >= greatest(hits_es, hits_en, hits_de) THEN 'fr'
        |     WHEN hits_es >= greatest(hits_en, hits_de) THEN 'es'
        |     WHEN hits_en >= hits_de THEN 'en' ELSE 'de' END AS pred_lang,
        |CAST(greatest(hits_en, hits_de, hits_es, hits_fr) AS BIGINT) AS hits
        |FROM (SELECT doc_id,
        |len(list_filter(toks, x -> x IN ('the','a','of','and','to','is'))) AS hits_en,
        |len(list_filter(toks, x -> x IN ('der','die','das','und','ist','ein'))) AS hits_de,
        |len(list_filter(toks, x -> x IN ('el','la','de','y','es','un'))) AS hits_es,
        |len(list_filter(toks, x -> x IN ('le','la','de','et','est','un'))) AS hits_fr
        |FROM (SELECT doc_id, list_transform(list_filter(string_split_regex(text,'[^a-zA-Z]'), x -> x<>''), x -> lower(x)) AS toks
        |FROM documents)) ORDER BY doc_id""".stripMargin),

    // PII scrub (emails/phones/IPs -> typed tokens + audit counts);
    // synthetic PII injected deterministically from doc_id on BOTH
    // sides, so the hash match grades the redaction regexes themselves
    // identical injection, then RE2 forms of the same PII regexes (no
    // backreferences/lookaround, so Java and RE2 agree); DuckDB
    // regexp_replace needs the explicit 'g' flag Spark applies always
    "q_redact_pii" -> graded(TextAnalysis.redactPii _,
      """WITH raw AS (SELECT doc_id, text
        |  || ' contact user' || doc_id::VARCHAR || '@example.com'
        |  || CASE WHEN doc_id % 3 = 0 THEN ' call (555) 010-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE '' END
        |  || CASE WHEN doc_id % 2 = 0 THEN ' from 10.' || (doc_id % 256)::VARCHAR || '.0.' || (doc_id % 100)::VARCHAR ELSE '' END AS raw
        |  FROM documents)
        |SELECT doc_id,
        |regexp_replace(regexp_replace(regexp_replace(raw,
        |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |  '\(\d{3}\) \d{3}-\d{4}', '<PHONE>', 'g'),
        |  '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS redacted,
        |CAST(len(regexp_extract_all(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |CAST(len(regexp_extract_all(raw, '\(\d{3}\) \d{3}-\d{4}')) AS BIGINT) AS n_phones,
        |CAST(len(regexp_extract_all(raw, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips
        |FROM raw ORDER BY doc_id""".stripMargin),

    "q_fingerprint" -> graded(TextAnalysis.fingerprint _,
      s"""SELECT doc_id, ${h32("lower(trim(text))")} AS fp_md5,
         |list_reduce(list_prepend(CAST(0 AS BIGINT),
         |  list_transform(generate_series(1, length(text)), i -> CAST(ord(substr(text,i,1)) AS BIGINT))),
         |  (acc,c) -> (acc*31+c)%1000000007) AS fp_rolling
         |FROM documents ORDER BY doc_id""".stripMargin),

    // robust winnowing (MOSS): rightmost-min fingerprint per hash
    // window — the sublinear near-dup index (density ~2/(W+1))
    // robust winnowing re-derived: per-position k-gram fold, rightmost
    // window minimum via min over {'h', 'np': -pos} structs, full
    // windows only, distinct selections
    "q_winnow" -> graded(TextAnalysis.winnowFingerprints _,
      s"""WITH $winnowCtes
         |SELECT doc_id, pos, fp FROM wfp ORDER BY doc_id, pos""".stripMargin),

    // the MOSS decision layer: df-capped posting-list pair join over
    // the winnowed index, containment >= half the smaller side
    // the MOSS decision layer: df-capped posting lists, within-key
    // pair enumeration, containment vs the smaller fingerprint set
    "q_winnow_pairs" -> graded(TextAnalysis.winnowPairs _, s"$winnowPairsSql\nORDER BY id_a, id_b"),

    // INCREMENTAL winnow near-dup: batch fingerprints probe the stored
    // postings with delta-applied union df; existing-vs-existing never
    // enumerated (== the full pair set restricted to touching batch)
    // the incremental form: the SAME pair chain restricted to pairs
    // touching the md5 batch and type-tagged — the stored-index probe
    // with its delta-applied union df must find exactly these
    "q_delta_winnow_pairs" -> graded(TextAnalysis.deltaWinnowPairs _,
      s"""WITH pairs AS ($winnowPairsSql),
         |tag AS (SELECT doc_id, ${h32("text")} % 10 >= 8 AS is_new FROM documents)
         |SELECT id_a, id_b, n_shared, containment,
         |  CASE WHEN ta.is_new AND tb.is_new THEN 'new_new'
         |       ELSE 'new_existing' END AS pair_type
         |FROM pairs JOIN tag ta ON id_a = ta.doc_id
         |JOIN tag tb ON id_b = tb.doc_id
         |WHERE ta.is_new OR tb.is_new
         |ORDER BY id_a, id_b""".stripMargin),

    // RETRACTION: tombstoned ids removed from the stored winnow triple
    // by anti-joins + negative df delta-applies — no text read; the
    // retracted index re-runs the full MOSS chain and equals the
    // rebuild over the surviving docs
    // retraction: the full MOSS chain over the surviving base docs —
    // the retracted winnow triple equals the rebuild (negative df
    // delta-applies; a fingerprint can re-enter the kept range when
    // deletions drop its df back to ≤ maxDf)
    "q_retract_winnow_pairs" -> graded(TextAnalysis.retractWinnowPairs _,
      overRetainedDocs(textRetainSql, winnowPairsSql, "id_a, id_b")),

    // MULTI-INGEST: two stored winnow commits + a live third —
    // delta(delta(base,b1),b2) finds exactly the full chain's
    // batch-touching pairs (shares the single-delta oracle)
    // compounding: the stored side covers md5 buckets 0–7 whether it
    // arrived as one monolith or two commits — same probe result,
    // same oracle shape as the single-delta entry
    "q_delta2_winnow_pairs" -> graded(TextAnalysis.delta2WinnowPairs _,
      s"""WITH pairs AS ($winnowPairsSql),
         |tag AS (SELECT doc_id, ${h32("text")} % 10 >= 8 AS is_new FROM documents)
         |SELECT id_a, id_b, n_shared, containment,
         |  CASE WHEN ta.is_new AND tb.is_new THEN 'new_new'
         |       ELSE 'new_existing' END AS pair_type
         |FROM pairs JOIN tag ta ON id_a = ta.doc_id
         |JOIN tag tb ON id_b = tb.doc_id
         |WHERE ta.is_new OR tb.is_new
         |ORDER BY id_a, id_b""".stripMargin),

    // COMPACTION: N commits folded to one stored triple, full MOSS
    // chain served from the fold — shares q_winnow_pairs' oracle
    // compaction: the folded triple serves the FULL chain — the
    // whole-corpus oracle verbatim
    "q_compact_winnow_pairs" -> graded(TextAnalysis.compactWinnowPairs _,
      s"$winnowPairsSql\nORDER BY id_a, id_b"),

    // the same selection as a STATELESS streaming projection (per-doc
    // pure function -> no state, no shuffle); shares q_winnow's oracle
    // the stateless streaming projection reproduces the selection
    // bit-for-bit on finite replay -> same oracle
    "q_stream_winnow" -> graded(graft.streaming.DocumentStreams.streamedWinnow _,
      s"""WITH $winnowCtes
         |SELECT doc_id, pos, fp FROM wfp ORDER BY doc_id, pos""".stripMargin),

    "q_repetition" -> graded(TextAnalysis.repetitionScore _,
      """SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
        |CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
        |(len(grams) - len(list_distinct(grams)))::DOUBLE / greatest(len(grams), 1) AS dup_frac
        |FROM (SELECT doc_id, list_transform(generate_series(1, greatest(len(toks)-3, 0)),
        |    i -> toks[i]||' '||toks[i+1]||' '||toks[i+2]||' '||toks[i+3]) AS grams
        |  FROM (SELECT doc_id,
        |    list_transform(list_filter(string_split_regex(text,'[^a-zA-Z]'), x -> x<>''), x -> lower(x)) AS toks
        |  FROM documents))
        |ORDER BY doc_id""".stripMargin),

    // C4-style corpus-wide boilerplate strip + document REASSEMBLY
    // (the cleaned corpus as output, not a flag report)
    // boilerplate strip: segment (non-overlapping 4-word windows),
    // count corpus-wide, drop common segments, reassemble in seg order
    "q_boilerplate" -> graded(TextAnalysis.removeBoilerplate _,
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         |e AS (SELECT doc_id, tk, unnest(generate_series(0,
         |    CAST(ceil(len(tk) / ${graft.operators.TextAnalysis.BoilerplateWindow}.0) AS BIGINT) - 1)) AS i
         |  FROM toks),
         |segs AS (SELECT doc_id, i AS seg_idx,
         |    array_to_string(tk[(i * ${graft.operators.TextAnalysis.BoilerplateWindow} + 1):(i * ${graft.operators.TextAnalysis.BoilerplateWindow} + ${graft.operators.TextAnalysis.BoilerplateWindow})], ' ') AS seg
         |  FROM e),
         |common AS (SELECT seg FROM segs GROUP BY seg
         |  HAVING count(*) >= ${graft.operators.TextAnalysis.BoilerplateMinCount}),
         |kept AS (SELECT s.* FROM segs s WHERE s.seg NOT IN (SELECT seg FROM common)),
         |rebuilt AS (SELECT doc_id, count(*) AS n_kept,
         |    string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text
         |  FROM kept GROUP BY doc_id),
         |totals AS (SELECT doc_id, count(*) AS n_segs FROM segs GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(t.n_segs, 0) AS n_segs,
         |  coalesce(t.n_segs, 0) - coalesce(r.n_kept, 0) AS n_removed,
         |  coalesce(r.clean_text, '') AS clean_text
         |FROM documents d LEFT JOIN totals t ON d.doc_id = t.doc_id
         |LEFT JOIN rebuilt r ON d.doc_id = r.doc_id ORDER BY d.doc_id""".stripMargin),

    // bigram-LM typicality: the statistical quality screen (mean corpus
    // frequency of a doc's bigrams — integer-exact under the gate)
    // shares q_bigrams' tokenizer; integer sums + one exactly-rounded
    // division keep the score engine-portable
    "q_lm_typicality" -> graded(TextAnalysis.lmTypicality _,
      """WITH db AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(toks)-1, 0)),
        |    i -> toks[i]||' '||toks[i+1])) AS bigram
        |  FROM (SELECT doc_id, list_transform(list_filter(string_split_regex(text,'[^a-zA-Z]'), x -> x<>''),
        |    x -> lower(x)) AS toks FROM documents)),
        |cnts AS (SELECT bigram, count(*) AS cnt FROM db GROUP BY bigram)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  CAST(sum(cnt) AS BIGINT) AS freq_sum,
        |  CAST(sum(cnt) AS BIGINT)::DOUBLE / count(*)::DOUBLE AS avg_freq
        |FROM db JOIN cnts USING(bigram)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    "q_pack_sequences" -> graded(TextAnalysis.packSequences(_, _),
      s"""SELECT shard, seq_id, count(*) AS n_docs,
        |CAST(sum(n_tok) AS BIGINT) AS total_tokens, min(doc_id) AS first_doc
        |FROM (SELECT doc_id, shard, n_tok,
        |  CAST(coalesce(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // ${TextAnalysis.PackBudget} AS BIGINT) AS seq_id
        |FROM (SELECT doc_id, doc_id % ${TextAnalysis.PackShards} AS shard,
        |  len(list_filter(string_split_regex(text,'[^a-zA-Z]'), x -> x<>'')) AS n_tok
        |  FROM documents))
        |GROUP BY shard, seq_id ORDER BY shard, seq_id""".stripMargin),

    // — retrieval / data selection —
    // BM25 ranked retrieval over the term-partitioned postings table
    // per-term BM25 contributions quantize to 2^20 fixed-point longs
    // BEFORE the per-(query,doc) sum (the q_kmeans pattern), so the
    // gate compares exact integers; ln() ulp exposure is one rounding
    // per (term,doc) — the q_tfidf-precedented class
    "q_bm25" -> graded(Retrieval.bm25 _, bm25Sql),
    // INCREMENTAL BM25: stored four-table index + one batch
    // tokenization pass, merged by long delta-applies — equals the
    // full rebuild, so it shares q_bm25's oracle verbatim
    // the incremental index equals the full rebuild (every maintained
    // field is an associative long sum over disjoint doc sets), so the
    // delta entry is graded against the SAME whole-corpus oracle — the
    // maintenance changes work, never results
    "q_delta_bm25" -> graded(Retrieval.deltaBm25 _, bm25Sql),

    // RETRACTION: tombstoned doc_ids removed from the stored four-table
    // index by anti-joins + negative delta-applies — no text read;
    // retracted == rebuilt, so the oracle is q_bm25's chain over the
    // surviving docs
    // retraction: the SAME chain over the surviving docs — the
    // retracted index equals the rebuild (negative long delta-applies
    // are as associative as positive ones)
    "q_retract_bm25" -> graded(Retrieval.retractBm25 _,
      overRetainedDocs(bm25RetainSql, bm25Sql, "query_id, rank")),

    // MULTI-INGEST compounding: commits c0+c1 read back merged, the
    // final batch delta-applied live — delta(delta(base,b1),b2) ==
    // full rebuild, hash-matched against q_bm25's oracle verbatim
    // compounding: two stored commits + live third == full rebuild —
    // every maintained field is an associative long sum, so ANY commit
    // grouping shares the whole-corpus oracle
    "q_delta2_bm25" -> graded(Retrieval.delta2Bm25 _, bm25Sql),
    // COMPACTION: all commits folded into ONE four-table index off
    // the query path; serving the fold shares q_bm25's oracle
    // compaction: a pure layout fold — values unchanged, same oracle
    "q_compact_bm25" -> graded(Retrieval.compactBm25 _, bm25Sql),

    // hybrid search: RRF fusion of embedding-cosine + lexical-cosine
    // both source rankings re-derived exactly (embedding side =
    // q_knn_bruteforce's rounded cosine; lexical side = long-dot /
    // sqrt(long·long), all ops on exact inputs); each 1/(60+rank)
    // quantizes to 2^20 fixed-point so fused scores sum as longs
    "q_rrf_fusion" -> graded(Retrieval.rrfFusion _,
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
         |  WHERE vec_id < ${graft.operators.Similarity.NumQueries}),
         |esims AS (SELECT q_id, e.vec_id AS doc_id,
         |  round(${cosSql("q_emb", "e.embedding")}, 6) AS sim
         |  FROM embeddings e, q WHERE q_id <> e.vec_id),
         |embr AS (SELECT q_id, doc_id,
         |  row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, doc_id) AS rank FROM esims),
         |embtop AS (SELECT q_id, doc_id, rank FROM embr
         |  WHERE rank <= ${graft.operators.Retrieval.FusionDepth}),
         |tok AS (SELECT doc_id, lower(w) AS word FROM
         |  (SELECT doc_id, unnest(string_split_regex(text,'[^a-zA-Z]')) AS w FROM documents) WHERE w<>''),
         |tf AS (SELECT doc_id, word, count(*) AS cnt FROM tok GROUP BY 1, 2),
         |norms AS (SELECT doc_id, CAST(sum(cnt*cnt) AS BIGINT) AS norm2 FROM tf GROUP BY 1),
         |ldots AS (SELECT qt.doc_id AS q_id, t.doc_id AS doc_id, CAST(sum(qt.cnt*t.cnt) AS BIGINT) AS dot
         |  FROM tf qt JOIN tf t USING(word)
         |  WHERE qt.doc_id < ${graft.operators.Similarity.NumQueries} AND qt.doc_id <> t.doc_id
         |  GROUP BY 1, 2),
         |lcos AS (SELECT ld.q_id, ld.doc_id,
         |  dot::DOUBLE / sqrt((nq.norm2 * nd.norm2)::DOUBLE) AS cos
         |  FROM ldots ld JOIN norms nq ON ld.q_id = nq.doc_id
         |  JOIN norms nd ON ld.doc_id = nd.doc_id),
         |lexr AS (SELECT q_id, doc_id,
         |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, doc_id) AS rank FROM lcos),
         |lextop AS (SELECT q_id, doc_id, rank FROM lexr
         |  WHERE rank <= ${graft.operators.Retrieval.FusionDepth}),
         |fused AS (
         |  SELECT q_id, doc_id, CAST(round(1048576.0 / (60.0 + rank::DOUBLE)) AS BIGINT) AS c FROM embtop
         |  UNION ALL
         |  SELECT q_id, doc_id, CAST(round(1048576.0 / (60.0 + rank::DOUBLE)) AS BIGINT) AS c FROM lextop),
         |agg AS (SELECT q_id, doc_id, CAST(sum(c) AS BIGINT) AS rrf_fp, count(*) AS n_lists
         |  FROM fused GROUP BY 1, 2),
         |r AS (SELECT q_id, doc_id, rrf_fp, n_lists,
         |  row_number() OVER (PARTITION BY q_id ORDER BY rrf_fp DESC, doc_id) AS rank FROM agg)
         |SELECT q_id, rank, doc_id, n_lists, rrf_fp::DOUBLE / 1048576.0 AS rrf
         |FROM r WHERE rank <= ${graft.operators.Retrieval.TopK}
         |ORDER BY q_id, rank""".stripMargin),

    // DSIR importance resampling: unigram-LM log-likelihood-ratio
    // selection of background docs that look like the target domain
    // per-WORD log-likelihood ratios quantize once to 2^20 fixed-point
    // (corpus-level model → one ln rounding per vocab word), then doc
    // scores are exact long dot-products and ONE exact-input division
    "q_dsir" -> graded(Retrieval.dsirWeights _, {
      val targets = graft.operators.Retrieval.DsirTargetSources
        .map(s => s"'$s'").mkString(",")
      s"""WITH tok AS (SELECT doc_id, lower(w) AS word FROM
         |  (SELECT doc_id, unnest(string_split_regex(text,'[^a-zA-Z]')) AS w FROM documents) WHERE w<>''),
         |tf AS (SELECT doc_id, word, count(*) AS cnt FROM tok GROUP BY 1, 2),
         |tagged AS (SELECT doc_id, source IN ($targets) AS is_target FROM documents),
         |tft AS (SELECT t.doc_id, word, cnt, is_target FROM tf t JOIN tagged USING(doc_id)),
         |counts AS (SELECT word,
         |  CAST(sum(CASE WHEN is_target THEN cnt ELSE 0 END) AS BIGINT) AS cnt_t,
         |  CAST(sum(CASE WHEN is_target THEN 0 ELSE cnt END) AS BIGINT) AS cnt_b
         |  FROM tft GROUP BY 1),
         |tot AS (SELECT CAST(sum(cnt_t) AS BIGINT) AS n_t, CAST(sum(cnt_b) AS BIGINT) AS n_b,
         |  count(*) AS v FROM counts),
         |model AS (SELECT word,
         |  CAST(round((ln((cnt_t::DOUBLE + 1.0) / (n_t::DOUBLE + v::DOUBLE)) -
         |              ln((cnt_b::DOUBLE + 1.0) / (n_b::DOUBLE + v::DOUBLE))) * 1048576.0) AS BIGINT) AS lr_fp
         |  FROM counts, tot),
         |scored AS (SELECT doc_id, CAST(sum(cnt * lr_fp) AS BIGINT) AS score_fp,
         |  CAST(sum(cnt) AS BIGINT) AS dl
         |  FROM tft JOIN model USING(word) WHERE NOT is_target GROUP BY 1),
         |r AS (SELECT doc_id, dl, score_fp,
         |  row_number() OVER (ORDER BY score_fp DESC, doc_id) AS rank FROM scored)
         |SELECT rank, doc_id, dl, score_fp,
         |  score_fp::DOUBLE / (dl::DOUBLE * 1048576.0) AS avg_lr
         |FROM r WHERE rank <= ${graft.operators.Retrieval.DsirTopN}
         |ORDER BY rank""".stripMargin
    }),

    // exact phrase lookup over positional postings (attribution):
    // only phrase-term postings ever shuffle, never the corpus
    // positional postings re-derived with a 1-based LATERAL subscript
    // walk (generate_series over len(arr)); adjacency joins on the
    // pruned posting set mirror the Spark fold, with the terms and
    // offsets INTERPOLATED from Retrieval.PhraseQuery so an edited
    // phrase cannot desynchronize the gate
    "q_phrase_search" -> graded(Retrieval.phraseSearch _, phraseSearchSql),
    // the batch restatement (N phrases, ONE corpus scan + slot-count
    // join) and the NEAR/k ordered-proximity variant of the same
    // postings build
    "q_phrase_batch" -> graded(Retrieval.phraseBatch _, phraseBatchSql),
    "q_proximity_search" -> graded(Retrieval.proximitySearch _, proximitySearchSql),
    // batch NEAR/k: N proximity probes through ONE pruned postings
    // build, frontier-advanced one slot per round (band-join chains)
    "q_proximity_batch" -> graded(Retrieval.proximityBatch _, proximityBatchSql),

    // the graded stages composed end-to-end, the way a training-data
    // pipeline runs them: quality filter → exact dedup → train-side
    // decontamination → sequence packing, one dataflow, one corpus scan
    "q_pipeline_e2e" -> graded(Pipeline.curationPipeline _,
      s"""WITH cf AS ($corpusReasonSql),
         |kept AS (SELECT doc_id, text FROM cf WHERE reason = 'keep'),
         |keepers AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY lower(trim(text))),
         |dd AS (SELECT k.doc_id, k.text FROM kept k JOIN keepers USING (doc_id)),
         |tag AS (SELECT doc_id, ${h32("text")} % 10 < 8 AS is_train FROM dd),
         |sh AS (SELECT doc_id, ${rollSql("sh")} AS hh FROM (${shSqlFrom("dd", Pipeline.DecontaminationSpanK)})),
         |ev AS (SELECT DISTINCT hh FROM sh JOIN tag USING(doc_id) WHERE NOT is_train),
         |score AS (SELECT sh.doc_id, count(*) AS n,
         |    sum(CASE WHEN ev.hh IS NOT NULL THEN 1 ELSE 0 END) AS o
         |  FROM sh JOIN tag USING(doc_id) LEFT JOIN ev ON sh.hh = ev.hh
         |  WHERE is_train GROUP BY sh.doc_id),
         |clean AS (SELECT dd.doc_id, dd.text FROM dd JOIN score USING(doc_id)
         |  WHERE o::DOUBLE / n <= ${Pipeline.MaxContamination}),
         |sized AS (SELECT doc_id, doc_id % ${TextAnalysis.PackShards} AS shard,
         |    len(list_filter(string_split_regex(text,'[^a-zA-Z]'), x -> x<>'')) AS n_tok
         |  FROM clean),
         |packed AS (SELECT doc_id, shard, n_tok,
         |    CAST(coalesce(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // ${TextAnalysis.PackBudget} AS BIGINT) AS seq_id
         |  FROM sized)
         |SELECT shard, seq_id, count(*) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS total_tokens, min(doc_id) AS first_doc
         |FROM packed GROUP BY shard, seq_id ORDER BY shard, seq_id""".stripMargin),

    // the MULTIMODAL cascade: image decode+aHash + audio decode+wide
    // fingerprint (both materialized once) → joint-key dedup decision
    // → deterministic shard layout of the survivors
    // the multimodal cascade in ONE CTE chain: closed-form pixels →
    // aHash bits (i_ prefix), closed-form samples → wide fingerprint
    // bits (a_ prefix), joint-key class reps, mix31 shard layout —
    // the hash match proves the COMPOSITION across both modalities
    "q_pipeline_media" -> graded(Pipeline.mediaPipeline _,
      s"""WITH ${ahashCtes("i_")},
         |${audioFpWideCte("a_")},
         |k AS (SELECT v.doc_id, ahash_hi, ahash_lo, afp_hi, afp_lo
         |  FROM i_ahv v JOIN a_afw w ON v.doc_id = w.doc_id),
         |reps AS (SELECT min(doc_id) AS doc_id, count(*) AS n_class
         |  FROM k GROUP BY ahash_hi, ahash_lo, afp_hi, afp_lo),
         |keyed AS (SELECT doc_id, n_class,
         |    ${mixSql("doc_id", Dedup.ShardSalt.toString)} AS skey
         |  FROM reps)
         |SELECT doc_id, n_class, skey % ${Dedup.NumShards} AS shard,
         |  row_number() OVER (PARTITION BY skey % ${Dedup.NumShards}
         |    ORDER BY skey, doc_id) - 1 AS pos
         |FROM keyed ORDER BY shard, pos""".stripMargin),

    // the media cascade with the NEAR-dup decision folded in: routed
    // banded pairs per modality → class-contracted CC → keep-rep →
    // layout (the production daily shape; exact-key sibling above)
    // the near-dup-folded cascade: the same two decode chains, exact
    // joint-key reps, then PER-MODALITY Hamming-ball pairs (brute
    // force here — value-equal to the routed banding by completeness),
    // class-contracted recursive closure, keep-rep, mix31 layout
    "q_pipeline_media_near" -> graded(Pipeline.mediaPipelineNear _,
      s"""WITH RECURSIVE ${ahashCtes("i_")},
         |${audioFpWideCte("a_")},
         |k AS (SELECT v.doc_id, ahash_hi, ahash_lo, afp_hi, afp_lo
         |  FROM i_ahv v JOIN a_afw w ON v.doc_id = w.doc_id),
         |${mediaNearChainCtes("", "")}
         |SELECT doc_id, n_docs, shard, pos FROM layout
         |ORDER BY shard, pos""".stripMargin),

    // the INCREMENTAL media cascade: frozen-rep exact dedup against
    // the stored joint-class table, delta band probes for near-dup
    // bridges, batch-local CC + base-touch absorption, newly-born
    // components appended to the stored layout (deltaShardAppend)
    // the incremental cascade's ONE oracle chain proves the whole
    // composition: the stored-base half is the SAME layout chain the
    // full cascade is graded against (restricted to the mod-10 base);
    // the delta half re-derives new classes (anti-join on the joint
    // key), batch-local components (stars + new-new Hamming pairs,
    // recursive reach), base-touch absorption (a new hash within the
    // verify radius of any stored hash), and the per-shard append
    // arithmetic over the frozen layout's counts
    "q_delta_pipeline_media" -> graded(Pipeline.deltaMediaPipeline _, {
      val maxD = graft.operators.Multimodal.ImageNeardupMaxDist
      s"""WITH RECURSIVE ${ahashCtes("i_")},
         |${audioFpWideCte("a_")},
         |k AS (SELECT v.doc_id, ahash_hi, ahash_lo, afp_hi, afp_lo
         |  FROM i_ahv v JOIN a_afw w ON v.doc_id = w.doc_id),
         |${mediaNearChainCtes("b", "WHERE doc_id % 10 < 8")},
         |nk AS (SELECT * FROM k WHERE doc_id % 10 >= 8),
         |ncls AS (SELECT * FROM (SELECT ahash_hi, ahash_lo, afp_hi, afp_lo,
         |    min(doc_id) AS rep, count(*) AS n FROM nk GROUP BY 1, 2, 3, 4) g
         |  WHERE NOT EXISTS (SELECT 1 FROM breps b
         |    WHERE b.ahash_hi = g.ahash_hi AND b.ahash_lo = g.ahash_lo
         |      AND b.afp_hi = g.afp_hi AND b.afp_lo = g.afp_lo)),
         |nih AS (SELECT ahash_hi, ahash_lo, min(rep) AS inode FROM ncls GROUP BY 1, 2),
         |nah AS (SELECT afp_hi, afp_lo, min(rep) AS anode FROM ncls GROUP BY 1, 2),
         |bih AS (SELECT DISTINCT ahash_hi, ahash_lo FROM k WHERE doc_id % 10 < 8),
         |bah AS (SELECT DISTINCT afp_hi, afp_lo FROM k WHERE doc_id % 10 < 8),
         |tih AS (SELECT n.ahash_hi, n.ahash_lo FROM nih n
         |  WHERE EXISTS (SELECT 1 FROM bih b
         |    WHERE bit_count(xor(n.ahash_hi, b.ahash_hi))
         |      + bit_count(xor(n.ahash_lo, b.ahash_lo)) <= $maxD)),
         |tah AS (SELECT n.afp_hi, n.afp_lo FROM nah n
         |  WHERE EXISTS (SELECT 1 FROM bah b
         |    WHERE bit_count(xor(n.afp_hi, b.afp_hi))
         |      + bit_count(xor(n.afp_lo, b.afp_lo)) <= $maxD)),
         |stars AS (SELECT c.rep AS u, i.inode AS v
         |    FROM ncls c JOIN nih i USING (ahash_hi, ahash_lo)
         |  UNION SELECT c.rep, a.anode
         |    FROM ncls c JOIN nah a USING (afp_hi, afp_lo)),
         |nip AS (SELECT x.inode AS u, y.inode AS v FROM nih x, nih y
         |  WHERE (x.ahash_hi < y.ahash_hi OR
         |      (x.ahash_hi = y.ahash_hi AND x.ahash_lo < y.ahash_lo))
         |    AND bit_count(xor(x.ahash_hi, y.ahash_hi))
         |      + bit_count(xor(x.ahash_lo, y.ahash_lo)) <= $maxD),
         |nap AS (SELECT x.anode AS u, y.anode AS v FROM nah x, nah y
         |  WHERE (x.afp_hi < y.afp_hi OR
         |      (x.afp_hi = y.afp_hi AND x.afp_lo < y.afp_lo))
         |    AND bit_count(xor(x.afp_hi, y.afp_hi))
         |      + bit_count(xor(x.afp_lo, y.afp_lo)) <= $maxD),
         |dedges AS (SELECT u, v FROM stars UNION SELECT v, u FROM stars
         |  UNION SELECT u, v FROM nip UNION SELECT v, u FROM nip
         |  UNION SELECT u, v FROM nap UNION SELECT v, u FROM nap),
         |dnodes AS (SELECT DISTINCT u AS id FROM dedges),
         |dreach(id, r) AS (SELECT id, id FROM dnodes
         |  UNION SELECT e.v, r.r FROM dreach r JOIN dedges e ON e.u = r.id),
         |dlbl AS (SELECT id, min(r) AS lbl FROM dreach GROUP BY id),
         |rcomp AS (SELECT c.rep, l.lbl AS comp
         |  FROM (SELECT DISTINCT rep FROM ncls) c JOIN dlbl l ON l.id = c.rep),
         |touchedrep AS (SELECT DISTINCT rep FROM ncls c
         |  WHERE EXISTS (SELECT 1 FROM tih t
         |      WHERE t.ahash_hi = c.ahash_hi AND t.ahash_lo = c.ahash_lo)
         |    OR EXISTS (SELECT 1 FROM tah t
         |      WHERE t.afp_hi = c.afp_hi AND t.afp_lo = c.afp_lo)),
         |absorbed AS (SELECT DISTINCT comp FROM rcomp JOIN touchedrep USING (rep)),
         |keepers AS (SELECT comp AS doc_id, CAST(sum(n) AS BIGINT) AS n_docs
         |  FROM ncls JOIN rcomp USING (rep)
         |  WHERE comp NOT IN (SELECT comp FROM absorbed) GROUP BY 1),
         |bcnt AS (SELECT shard, count(*) AS base_n FROM blayout GROUP BY 1),
         |akeyed AS (SELECT doc_id, n_docs,
         |    ${mixSql("doc_id", Dedup.ShardSalt.toString)} AS skey
         |  FROM keepers),
         |appended AS (SELECT a.doc_id, a.n_docs,
         |  a.skey % ${Dedup.NumShards} AS shard,
         |  coalesce(b.base_n, 0) + row_number() OVER (
         |    PARTITION BY a.skey % ${Dedup.NumShards}
         |    ORDER BY a.skey, a.doc_id) - 1 AS pos
         |  FROM akeyed a LEFT JOIN bcnt b ON b.shard = a.skey % ${Dedup.NumShards})
         |SELECT doc_id, n_docs, shard, pos FROM blayout
         |UNION ALL SELECT doc_id, n_docs, shard, pos FROM appended
         |ORDER BY shard, pos""".stripMargin
    }),

    // the TEXT cascade's incremental form: batch-only text passes,
    // three stored tables (survivor norms, eval vocabulary, packed
    // layout), frozen semantics, packing append under the id-prefix
    // split
    // the full curation cascade as ONE oracle CTE chain — each stage's
    // rule byte-identical to its individually-graded oracle (corpus
    // filter, exact dedup, hash split + shingle fingerprints, packing),
    // so the hash match proves the COMPOSITION: stage boundaries, join
    // plumbing, and that no stage leaks rows another should have dropped
    // the text cascade's incremental form: the frozen composition
    // re-derived — base-restricted cascade (the q_pipeline_e2e rules
    // over doc_id < ⌊0.8n⌋) builds the three stored tables, the delta
    // half runs the batch through quality → anti-join frozen-rep dedup
    // → decontamination vs stored ∪ batch-eval vocabulary → packing
    // append offset by the stored layout's per-shard token totals,
    // merged through one final re-aggregation (the open-last-sequence
    // merge)
    "q_delta_pipeline_e2e" -> graded(Pipeline.deltaCurationPipeline _, {
      val k = graft.operators.Pipeline.DecontaminationSpanK
      s"""WITH cf AS ($corpusReasonSql),
         |kept AS (SELECT doc_id, text FROM cf WHERE reason = 'keep'),
         |nb AS (SELECT count(*) * 8 // 10 AS b FROM documents),
         |bkept AS (SELECT * FROM kept WHERE doc_id < (SELECT b FROM nb)),
         |nkept AS (SELECT * FROM kept WHERE doc_id >= (SELECT b FROM nb)),
         |bkeepers AS (SELECT min(doc_id) AS doc_id FROM bkept GROUP BY lower(trim(text))),
         |bdd AS (SELECT k.doc_id, k.text FROM bkept k JOIN bkeepers USING (doc_id)),
         |btag AS (SELECT doc_id, ${h32("text")} % 10 < 8 AS is_train FROM bdd),
         |bsh AS (SELECT doc_id, ${rollSql("sh")} AS hh FROM (${shSqlFrom("bdd", k)})),
         |bev AS (SELECT DISTINCT hh FROM bsh JOIN btag USING(doc_id) WHERE NOT is_train),
         |bscore AS (SELECT bsh.doc_id, count(*) AS n,
         |    sum(CASE WHEN bev.hh IS NOT NULL THEN 1 ELSE 0 END) AS o
         |  FROM bsh JOIN btag USING(doc_id) LEFT JOIN bev ON bsh.hh = bev.hh
         |  WHERE is_train GROUP BY bsh.doc_id),
         |bclean AS (SELECT bdd.doc_id, bdd.text FROM bdd JOIN bscore USING(doc_id)
         |  WHERE o::DOUBLE / n <= ${Pipeline.MaxContamination}),
         |bsized AS (SELECT doc_id, doc_id % ${TextAnalysis.PackShards} AS shard,
         |    len(list_filter(string_split_regex(text,'[^a-zA-Z]'), x -> x<>'')) AS n_tok
         |  FROM bclean),
         |bpacked AS (SELECT doc_id, shard, n_tok,
         |    CAST(coalesce(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // ${TextAnalysis.PackBudget} AS BIGINT) AS seq_id
         |  FROM bsized),
         |blayout AS (SELECT shard, seq_id, count(*) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS total_tokens, min(doc_id) AS first_doc
         |  FROM bpacked GROUP BY shard, seq_id),
         |bnorms AS (SELECT DISTINCT lower(trim(text)) AS nrm FROM bdd),
         |nkeepers AS (SELECT min(doc_id) AS doc_id FROM nkept
         |  WHERE lower(trim(text)) NOT IN (SELECT nrm FROM bnorms)
         |  GROUP BY lower(trim(text))),
         |ndd AS (SELECT k.doc_id, k.text FROM nkept k JOIN nkeepers USING (doc_id)),
         |ntag AS (SELECT doc_id, ${h32("text")} % 10 < 8 AS is_train FROM ndd),
         |nsh AS (SELECT doc_id, ${rollSql("sh")} AS hh FROM (${shSqlFrom("ndd", k)})),
         |nev AS (SELECT hh FROM bev UNION
         |  SELECT DISTINCT hh FROM nsh JOIN ntag USING(doc_id) WHERE NOT is_train),
         |nscore AS (SELECT nsh.doc_id, count(*) AS n,
         |    sum(CASE WHEN nev.hh IS NOT NULL THEN 1 ELSE 0 END) AS o
         |  FROM nsh JOIN ntag USING(doc_id) LEFT JOIN nev ON nsh.hh = nev.hh
         |  WHERE is_train GROUP BY nsh.doc_id),
         |nclean AS (SELECT ndd.doc_id, ndd.text FROM ndd JOIN nscore USING(doc_id)
         |  WHERE o::DOUBLE / n <= ${Pipeline.MaxContamination}),
         |nsized AS (SELECT doc_id, doc_id % ${TextAnalysis.PackShards} AS shard,
         |    len(list_filter(string_split_regex(text,'[^a-zA-Z]'), x -> x<>'')) AS n_tok
         |  FROM nclean),
         |btok AS (SELECT shard, CAST(sum(total_tokens) AS BIGINT) AS base_tok
         |  FROM blayout GROUP BY shard),
         |npacked AS (SELECT doc_id, n.shard, n_tok,
         |    CAST((coalesce(b.base_tok, 0) + coalesce(sum(n_tok) OVER (
         |      PARTITION BY n.shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)) // ${TextAnalysis.PackBudget} AS BIGINT) AS seq_id
         |  FROM nsized n LEFT JOIN btok b ON b.shard = n.shard),
         |nlayout AS (SELECT shard, seq_id, count(*) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS total_tokens, min(doc_id) AS first_doc
         |  FROM npacked GROUP BY shard, seq_id)
         |SELECT shard, seq_id, CAST(sum(n_docs) AS BIGINT) AS n_docs,
         |  CAST(sum(total_tokens) AS BIGINT) AS total_tokens,
         |  min(first_doc) AS first_doc
         |FROM (SELECT * FROM blayout UNION ALL SELECT * FROM nlayout)
         |GROUP BY shard, seq_id ORDER BY shard, seq_id""".stripMargin
    }),

    // — dedup family —
    "q_dedup_exact" -> graded(Dedup.exactDedup _,
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies FROM documents
        |GROUP BY lower(trim(text)) ORDER BY keep_id""".stripMargin),

    "q_dedup_hash" -> graded(Dedup.exactDedupByHash _,
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies FROM documents
        |GROUP BY sha256(text) ORDER BY keep_id""".stripMargin),

    "q_minhash_signatures" -> graded(Dedup.minhashSignatures(_, _),
      s"SELECT * FROM ($sigSql) ORDER BY doc_id"),

    "q_minhash_lsh_pairs" -> graded(Dedup.minhashLshPairs(_, _),
      s"$lshPairsSql ORDER BY id_a, id_b"),

    // production-hash twins (xxhash64; no DuckDB analog → rows-only):
    // same dataflow, benchmarked against the md5 oracle path
    "q_minhash_signatures_xx" -> rowsOnly(Dedup.minhashSignatures(_, _, prodHash = true)),
    "q_minhash_lsh_pairs_xx" -> rowsOnly(Dedup.minhashLshPairs(_, _, prodHash = true)),
    // leave-one-out multi-probe banding: recall below the S-curve knee
    "q_lsh_multiprobe" -> graded(Dedup.minhashLshPairsMultiProbe(_, _), lshMultiProbeSql),

    // near-dup pair graph computed ONCE per session/corpus, landed as
    // partitioned parquet, read back — the graph family's shared input
    // write→read-back of the materialized pair graph must be value-
    // identical to recomputing the pairs directly
    "q_neardup_graph" -> graded((s: SparkSession, dir: String) =>
      Dedup.materializedPairs(s, dir).orderBy(col("id_a"), col("id_b")),
      s"$lshPairsSql ORDER BY id_a, id_b"),

    "q_dup_clusters" -> graded(Dedup.duplicateClusters _, dupClustersSql),

    // cluster dedup with keep-longest keeper selection (production
    // pipelines keep the best duplicate, not the lowest doc_id)
    // same recursive-CTE labeling as q_dup_clusters, then keep-longest
    // keeper per cluster (n_words desc, doc_id tie-break)
    "q_dedup_keep_best" -> graded(Dedup.dedupKeepBest _,
      s"""WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ($lshPairsSql)),
         |edges AS (SELECT id_a AS u, id_b AS v FROM pairs UNION SELECT id_b, id_a FROM pairs),
         |nodes AS (SELECT DISTINCT u AS id FROM edges),
         |reach(id, r) AS (SELECT id, id FROM nodes
         |  UNION SELECT e.v, r.r FROM reach r JOIN edges e ON e.u = r.id),
         |lbl AS (SELECT id, min(r) AS rep FROM reach GROUP BY id),
         |words AS (SELECT doc_id, CAST(len(list_filter(string_split_regex(text,'[^a-zA-Z]'), x -> x<>'')) AS BIGINT) AS n_words FROM documents),
         |ranked AS (SELECT rep, id, n_words,
         |    row_number() OVER (PARTITION BY rep ORDER BY n_words DESC, id) AS rn,
         |    count(*) OVER (PARTITION BY rep) AS n_members
         |  FROM lbl JOIN words ON lbl.id = words.doc_id)
         |SELECT rep AS cluster_rep, id AS keeper,
         |  CAST(n_members AS BIGINT) AS n_members, n_words AS keeper_words
         |FROM ranked WHERE rn = 1 ORDER BY cluster_rep""".stripMargin),

    // WITH RECURSIVE (Spark 4.x): bounded BFS over the near-dup graph
    "q_recursive_reach" -> graded(Dedup.recursiveReach _,
      s"""WITH RECURSIVE pairs0 AS ($lshPairsSql),
         |reach(doc_id, depth) AS (
         |  SELECT DISTINCT id_a AS doc_id, 0 AS depth FROM pairs0 WHERE id_a % 10 = 0
         |  UNION ALL
         |  SELECT DISTINCT e.dst, r.depth + 1
         |  FROM reach r
         |  JOIN (SELECT id_a AS src, id_b AS dst FROM pairs0
         |        UNION ALL SELECT id_b, id_a FROM pairs0) e
         |    ON e.src = r.doc_id
         |  WHERE r.depth < 3)
         |SELECT doc_id, CAST(min(depth) AS BIGINT) AS min_depth
         |FROM reach GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // integer-arithmetic PageRank: iterations unrolled as chained CTEs
    // (standard SQL forbids aggregates in a recursive member); same
    // div/mod arithmetic as the Spark loop so the hash is exact
    "q_pagerank" -> graded(Dedup.nearDupPageRank _, {
      val iters = (1 to Dedup.PageRankIters).map { i =>
        s"""r$i AS (SELECT e.dst AS id,
           |  CAST(150000 + sum((r.rank * 85) // (d.deg * 100)) AS BIGINT) AS rank
           |  FROM edges e JOIN deg d ON e.src = d.src JOIN r${i - 1} r ON r.id = e.src
           |  GROUP BY e.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH lsh AS ($lshPairsSql),
         |pairs AS (SELECT id_a, id_b FROM lsh),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION ALL SELECT id_b, id_a FROM pairs),
         |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         |r0 AS (SELECT src AS id, CAST(1000000 AS BIGINT) AS rank FROM deg),
         |$iters
         |SELECT id AS doc_id, rank FROM r${Dedup.PageRankIters} ORDER BY doc_id""".stripMargin
    }),

    "q_ngram_jaccard" -> graded(Dedup.ngramJaccardPairs _, jaccardSql),
    // density-routed near-dup: on this (diverse) corpus the probe picks
    // the exact PPJoin path, so the exact-Jaccard oracle grades it; a
    // duplicate-heavy corpus would route to LSH (DedupRoutingSpec)
    // on the (diverse) fixture the density router provably takes the
    // exact path — same oracle; DedupRoutingSpec covers the LSH route
    "q_neardup_auto" -> graded(Dedup.nearDupPairsAuto(_, _), jaccardSql),

    "q_simhash" -> graded(Dedup.simhash _,
      s"""WITH toks AS (SELECT doc_id, ${h32("lower(w)")} AS h
         |  FROM (SELECT doc_id, unnest(string_split_regex(text,'[^a-zA-Z]')) AS w FROM documents) WHERE w<>''),
         |bits AS (SELECT doc_id, b, sum(CASE WHEN (h >> b) % 2 = 1 THEN 1 ELSE -1 END) AS v
         |  FROM (SELECT doc_id, h, unnest(generate_series(0,31)) AS b FROM toks) GROUP BY doc_id, b)
         |SELECT doc_id, CAST(sum(CASE WHEN v>0 THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
         |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    "q_hash_split" -> graded(Dedup.hashSplit _,
      s"""SELECT lang, CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END AS split,
         |count(*) AS n_docs, min(doc_id) AS first_doc
         |FROM (SELECT doc_id, lang, ${h32("text")} % 10 AS b FROM documents)
         |GROUP BY 1, 2 ORDER BY lang, split""".stripMargin),

    // incremental ingest: near-dup pairs touching the NEW batch only
    // (delta-probed LSH join — existing-vs-existing never enumerated)
    // the batch pair set restricted to pairs touching the new side of
    // the hash split — the delta probe must find exactly these (the
    // incremental join changes WORK, not results)
    "q_delta_dedup" -> graded(Dedup.deltaDedup _,
      s"""WITH pairs AS ($lshPairsSql),
         |tag AS (SELECT doc_id, ${h32("text")} % 10 >= 8 AS is_new FROM documents)
         |SELECT id_a, id_b, est_jaccard,
         |  CASE WHEN ta.is_new AND tb.is_new THEN 'new_new'
         |       ELSE 'new_existing' END AS pair_type
         |FROM pairs JOIN tag ta ON id_a = ta.doc_id
         |JOIN tag tb ON id_b = tb.doc_id
         |WHERE ta.is_new OR tb.is_new
         |ORDER BY id_a, id_b""".stripMargin),

    // RETRACTION: tombstoned ids anti-joined out of the stored
    // signature index; banded pairs over the retracted index equal the
    // rebuild over surviving docs (pair logic is pairwise) — no text
    // retraction: banded pairs over the surviving base docs — the
    // retracted signature index equals the rebuild (per-doc pure
    // signatures; pair logic is pairwise)
    "q_retract_dedup" -> graded(Dedup.retractDedup _,
      overRetainedDocs(textRetainSql, lshPairsSql, "id_a, id_b")),

    // CC maintenance for the text family: stored base labels + batch
    // bridges through the contracted mini-CC (the shared engine)
    // label MAINTENANCE == full recompute (the min-label convention
    // argument at Dedup.maintainComponentLabels): the incremental
    // entry shares the closure oracle verbatim
    "q_delta_dup_clusters" -> graded(Dedup.deltaDupClusters _, dupClustersSql),

    // RETRACTION closure: deletion can split components and delete the
    // min-id a component is labeled by — touched components relabel
    // over their surviving stored edges, untouched ride through
    // retraction closure: the full recursive-CTE labeling over the
    // surviving base docs — touched components relabel to fragment
    // minima (the deleted-min case), untouched labels ride through
    "q_retract_dup_clusters" -> graded(Dedup.retractDupClusters _,
      overRetainedDocs(textRetainSql, dupClustersSql, "cluster_rep")),

    // MULTI-INGEST closure: maintain(maintain(L0,p1),p2) over two
    // stored signature commits + a live third — equals one CC over
    // the whole corpus, q_dup_clusters' oracle verbatim
    // two chained maintenance steps == one full CC: the compounding
    // entry shares the whole-corpus closure oracle verbatim
    "q_delta2_dup_clusters" -> graded(Dedup.delta2DupClusters _, dupClustersSql),

    // near-dup pairs straddling the train/val/test boundary — the
    // eval-integrity audit (LSH pairs × hashSplit membership)
    // LSH pairs × hashSplit membership: the leaked flag marks pairs
    // straddling the split boundary (near-dups hash apart, so the md5
    // bucket cannot prevent them — this audit is the check)
    "q_split_leakage" -> graded(Dedup.splitLeakage _,
      s"""WITH pairs AS ($lshPairsSql),
         |sp AS (SELECT doc_id,
         |  CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END AS split
         |  FROM (SELECT doc_id, ${h32("text")} % 10 AS b FROM documents))
         |SELECT id_a, id_b, est_jaccard, sa.split AS split_a, sb.split AS split_b,
         |  sa.split <> sb.split AS leaked
         |FROM pairs JOIN sp sa ON id_a = sa.doc_id
         |JOIN sp sb ON id_b = sb.doc_id
         |ORDER BY id_a, id_b""".stripMargin),

    // sparse lexical tf-cosine pairs via df-cut posting lists — the
    // third similarity family (set / dense / SPARSE-LEXICAL)
    // rare-4-gram blocking + full unigram tf verification; integer
    // products + one sqrt + one division make the cosine double (and
    // so the threshold cut itself) bit-portable across engines
    "q_lexical_cosine" -> graded(Dedup.lexicalCosine _, s"$lexCosineSql\nORDER BY id_a, id_b"),

    // INCREMENTAL lexical cosine: batch shingles probe the stored
    // rare-gram/tf index with delta-applied union df (== the full
    // verified pair set restricted to touching batch)
    // the incremental form: the SAME verified chain restricted to
    // pairs touching the md5 batch and type-tagged — the stored-index
    // probe with delta-applied union df must find exactly these
    "q_delta_lexical_cosine" -> graded(Dedup.deltaLexicalCosine _,
      s"""WITH pairs AS ($lexCosineSql),
         |tag AS (SELECT doc_id, ${h32("text")} % 10 >= 8 AS is_new FROM documents)
         |SELECT id_a, id_b, dot, cosine,
         |  CASE WHEN ta.is_new AND tb.is_new THEN 'new_new'
         |       ELSE 'new_existing' END AS pair_type
         |FROM pairs JOIN tag ta ON id_a = ta.doc_id
         |JOIN tag tb ON id_b = tb.doc_id
         |WHERE ta.is_new OR tb.is_new
         |ORDER BY id_a, id_b""".stripMargin),

    // RETRACTION: tombstones anti-join the stored quadruple, df
    // subtracts the dead docs' own shingle rows — no text read; a
    // shingle whose df falls back under the cap resumes blocking
    // retraction: the same blocked+verified chain over survivors
    "q_retract_lexical_cosine" -> graded(Dedup.retractLexicalCosine _,
      overRetainedDocs(textRetainSql, lexCosineSql, "id_a, id_b")),

    "q_mixture_sample" -> graded(Dedup.mixtureSample _,
      s"""SELECT source, count(*) AS n_sampled, min(doc_id) AS first_doc
         |FROM (SELECT source, doc_id,
         |  ${h32("text || '#mix'")} % 100 AS bucket,
         |  10 + (CAST(substr(source, 4) AS INT) * 4) % 91 AS rate
         |  FROM documents)
         |WHERE bucket < rate GROUP BY source ORDER BY source""".stripMargin),

    // K smallest content-hashes per language via the bounded typed
    // top-K aggregator — the few-huge-strata group sample (no window)
    // the window form is the oracle's job; the Spark side must produce
    // the identical draw through the bounded aggregator
    "q_stratified_sample" -> graded(Dedup.stratifiedSample _,
      s"""SELECT lang, rn, doc_id FROM (
         |  SELECT lang, doc_id,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY ${h32("text || '#strat'")}, doc_id) AS rn
         |  FROM documents)
         |WHERE rn <= ${Dedup.StratK} ORDER BY lang, rn""".stripMargin),

    // rates FROM corpus stats: p(s) ∝ n^α flattening (α=1/2) as a
    // deterministic static downsample — the actual data-mixing math
    // α = 1/2 keeps the rate computable from sqrt + division alone —
    // both IEEE-exact in the two engines, so the double column itself
    // is under the hash (pow() would not be portable)
    "q_temperature_mixture" -> graded(Dedup.temperatureMixture _,
      s"""WITH sizes AS (SELECT lang, count(*) AS n_docs,
         |    1.0/sqrt(count(*)) AS w FROM documents GROUP BY 1),
         |rates AS (SELECT lang, n_docs,
         |    w / (SELECT max(w) FROM sizes) AS rate FROM sizes)
         |SELECT lang, n_docs, rate, count(*) AS n_sampled,
         |  min(doc_id) AS first_doc
         |FROM documents JOIN rates USING (lang)
         |WHERE ${h32("text || '#temp'")} % 1000000 < rate * 1000000
         |GROUP BY 1, 2, 3 ORDER BY lang""".stripMargin),

    // deterministic global shuffle → N shard files with stable
    // positions (the training writer's last stage; mix31-keyed so the
    // whole layout has a DuckDB twin, per-shard rank = one reducer
    // per output file)
    // the shuffle key is engine-portable mix31, so shard AND in-shard
    // rank replicate exactly; % stands in for pmod (skey ≥ 0); salt
    // and shard count interpolate from the library constants so
    // editing them cannot desynchronize the gate
    "q_shard_assign" -> graded(Dedup.shardAssign _,
      s"""WITH keyed AS (SELECT doc_id,
         |    ${mixSql("doc_id", Dedup.ShardSalt.toString)} AS skey
         |  FROM documents)
         |SELECT doc_id, skey % ${Dedup.NumShards} AS shard,
         |  row_number() OVER (PARTITION BY skey % ${Dedup.NumShards}
         |    ORDER BY skey, doc_id) - 1 AS pos
         |FROM keyed ORDER BY shard, pos""".stripMargin),

    // incremental layout: new batch appended after each shard's
    // existing max position — old rows byte-identical, cost ∝ batch
    // incremental layout: old split laid out as q_shard_assign, new
    // split appended per shard after the existing max position
    "q_delta_shard_assign" -> graded(Dedup.deltaShardAssign _, {
      val n = Dedup.NumShards
      val mix = mixSql("doc_id", Dedup.ShardSalt.toString)
      s"""WITH oldk AS (SELECT doc_id, $mix AS skey
         |  FROM documents WHERE doc_id % 10 < 8),
         |base AS (SELECT doc_id, skey % $n AS shard,
         |    row_number() OVER (PARTITION BY skey % $n
         |      ORDER BY skey, doc_id) - 1 AS pos
         |  FROM oldk),
         |off AS (SELECT shard, count(*) AS base_n FROM base GROUP BY 1),
         |newk AS (SELECT doc_id, $mix AS skey
         |  FROM documents WHERE doc_id % 10 >= 8),
         |app AS (SELECT doc_id, shard,
         |    coalesce(base_n, 0) + row_number() OVER (PARTITION BY shard
         |      ORDER BY skey, doc_id) - 1 AS pos
         |  FROM (SELECT doc_id, skey % $n AS shard, skey FROM newk)
         |  LEFT JOIN off USING (shard))
         |SELECT doc_id, shard, pos FROM base
         |UNION ALL SELECT doc_id, shard, pos FROM app
         |ORDER BY shard, pos""".stripMargin
    }),

    // benchmark-contamination scan: eval-split shingle overlap vs train
    "q_decontamination" -> graded(Dedup.decontamination _, decontaminationSql),
    // Bloom-prefiltered twin: eval-shingle sketch screens the train
    // side at the scan; exact join verifies — same oracle proves it
    // the Bloom prefilter is lossless (no false negatives + exact
    // verify join), so the same oracle grades it — the hash match IS
    // the losslessness proof
    "q_decontamination_bloom" -> graded(Dedup.decontaminationBloom _, decontaminationSql),
    // the same scan written as ONE spark.sql(...) TEXT driving the
    // SQL-registered codegen functions (char_shingles / rolling_hash /
    // md5_hash32) — same oracle proves the SQL surface end-to-end
    // the spark.sql(...) TEXT form computes the identical scan through
    // the SQL-registered expressions, so the same oracle grades it —
    // the hash match proves registration + binding + codegen, not just
    // that the functions evaluate (SqlFunctionsSpec covers that)
    "q_sql_decontamination" -> graded(Dedup.decontaminationSqlForm _, decontaminationSql),

    // fixed-window chunking with stride (context-window prep)
    "q_chunk_documents" -> graded(TextAnalysis.chunkDocuments(_, _),
      s"$chunkSql ORDER BY doc_id, chunk_idx"),

    // chunking -> exact dedup over chunk hashes (cross-doc repeated spans)
    "q_chunk_dedup" -> graded(Dedup.chunkDedup _,
      s"""SELECT chunk_hash, chunk_hash2, CAST(n_copies AS BIGINT) AS n_copies,
         |  CAST(n_docs AS BIGINT) AS n_docs,
         |  CAST(k // 1000000 AS BIGINT) AS keep_doc,
         |  CAST(k % 1000000 AS BIGINT) AS keep_idx
         |FROM (SELECT chunk_hash, chunk_hash2, count(*) AS n_copies,
         |    count(DISTINCT doc_id) AS n_docs,
         |    min(doc_id * 1000000 + chunk_idx) AS k
         |  FROM ($chunkSql) GROUP BY 1, 2 HAVING count(*) > 1)
         |ORDER BY chunk_hash, chunk_hash2""".stripMargin),

    // suffix-array-family exact substring dedup (Lee et al. 2022):
    // stride-1 Rabin-Karp window keys + per-doc interval merge emit the
    // exact >=L repeated-substring character ranges, no suffix sort
    // stride-1 window hashes re-derived with the O(n·L) per-substring
    // fold (the Spark side slides in O(n) — same values), then the
    // identical count-over-key and gaps-and-islands merge
    "q_substring_dedup" -> graded(Dedup.substringDedup _,
      s"""WITH $substringSpanCtes
         |SELECT doc_id, span_start, span_end, span_len, n_windows
         |FROM spans ORDER BY doc_id, span_start""".stripMargin),

    // the >=1e9-window escalation: identical plan keyed on THREE
    // polynomials (~2^89 composite space; +1 long per window row)
    // the paranoid tier: the same chain keyed on three polynomials
    "q_substring_dedup_p3" -> graded(Dedup.substringDedupP3 _,
      s"""WITH ${substringSpanCtesFor(paranoid = true)}
         |SELECT doc_id, span_start, span_end, span_len, n_windows
         |FROM spans ORDER BY doc_id, span_start""".stripMargin),

    // INCREMENTAL substring dedup: batch windows probe the stored
    // distinct-key index; base text never re-hashed (== the full run
    // restricted to batch docs)
    // the incremental form: the SAME span chain restricted to the
    // mod-10 ingest batch — the stored-key probe must find exactly
    // these spans (incremental joins change WORK, never results)
    "q_delta_substring_dedup" -> graded(Dedup.deltaSubstringDedup _,
      s"""WITH $substringSpanCtes,
         |tag AS (SELECT doc_id, ${h32("text")} % 10 >= 8 AS is_new FROM documents)
         |SELECT doc_id, span_start, span_end, span_len, n_windows
         |FROM spans JOIN tag USING (doc_id)
         |WHERE is_new ORDER BY doc_id, span_start""".stripMargin),

    // the spans applied: flagged docs re-emitted with repeated spans
    // excised (ordered segment reassembly, one corpus scan)
    // the spans re-assembled into clipped text: kept segments from a
    // lag window over the spans (+ the tail), pieces cut from the
    // corpus once, position-ordered string_agg — mirroring the Spark
    // sort_array(collect_list(...)) reassembly
    "q_substring_clip" -> graded(Dedup.substringClip _,
      s"""WITH $substringSpanCtes,
         |mids AS (SELECT doc_id,
         |    lag(span_end, 1, 1) OVER (PARTITION BY doc_id ORDER BY span_start) AS seg_start,
         |    span_start AS seg_end FROM spans),
         |tails AS (SELECT doc_id, max(span_end) AS seg_start, count(*) AS n_spans,
         |    sum(span_end - span_start) AS removed_chars FROM spans GROUP BY doc_id),
         |segs AS (SELECT doc_id, seg_start, seg_end FROM mids
         |  UNION ALL SELECT doc_id, seg_start, NULL FROM tails),
         |pieces AS (SELECT s.doc_id, s.seg_start,
         |    substr(d.text, s.seg_start,
         |      coalesce(s.seg_end, length(d.text) + 1) - s.seg_start) AS piece
         |  FROM segs s JOIN documents d ON d.doc_id = s.doc_id),
         |clip AS (SELECT doc_id, string_agg(piece, '' ORDER BY seg_start) AS clipped_text
         |  FROM pieces GROUP BY doc_id)
         |SELECT c.doc_id, CAST(t.n_spans AS BIGINT) AS n_spans,
         |  CAST(t.removed_chars AS BIGINT) AS removed_chars, c.clipped_text
         |FROM clip c JOIN tails t USING (doc_id) ORDER BY c.doc_id""".stripMargin),

    // position-exact eval-vs-train contamination: eval windows semi-
    // joined against the train key set, merged into contaminated spans
    // the same window-hash chain with a split tag: eval windows left-
    // joined against the DISTINCT train key set, per-doc totals plus
    // the islands-merged contaminated spans (count + longest)
    "q_substring_decontamination" -> graded(Dedup.substringDecontamination _, {
      val L = graft.operators.Dedup.SubstringL
      s"""WITH p AS (SELECT doc_id, text,
         |    CASE WHEN ${h32("text")} % 10 < 8 THEN 'train'
         |         WHEN ${h32("text")} % 10 = 8 THEN 'val' ELSE 'test' END AS split,
         |    CAST(unnest(generate_series(1, length(text) - ${L - 1})) AS BIGINT) AS pos
         |  FROM documents WHERE length(text) >= $L),
         |g AS (SELECT doc_id, split, pos,
         |    ${rollSql(s"substr(text, pos, $L)")} AS h1,
         |    ${rollSql2(s"substr(text, pos, $L)")} AS h2 FROM p),
         |tr AS (SELECT DISTINCT h1 AS t1, h2 AS t2 FROM g WHERE split = 'train'),
         |ev AS (SELECT g.doc_id, g.split, g.pos,
         |    CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS hit
         |  FROM g LEFT JOIN tr ON g.h1 = t1 AND g.h2 = t2
         |  WHERE g.split <> 'train'),
         |summ AS (SELECT doc_id, split, count(*) AS n_windows, sum(hit) AS n_cont
         |  FROM ev GROUP BY 1, 2),
         |hits AS (SELECT doc_id, pos FROM ev WHERE hit = 1),
         |re AS (SELECT doc_id, pos,
         |    max(pos + $L) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS run_end FROM hits),
         |mk AS (SELECT doc_id, pos,
         |    CASE WHEN run_end IS NULL OR pos > run_end THEN 1 ELSE 0 END AS new_s FROM re),
         |sid AS (SELECT doc_id, pos,
         |    sum(new_s) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS sid FROM mk),
         |spans AS (SELECT doc_id, min(pos) AS s, max(pos) + $L AS e
         |  FROM sid GROUP BY doc_id, sid),
         |sp AS (SELECT doc_id, count(*) AS n_spans, max(e - s) AS longest FROM spans GROUP BY 1)
         |SELECT m.doc_id, m.split, CAST(n_windows AS BIGINT) AS n_windows,
         |  CAST(n_cont AS BIGINT) AS n_contaminated,
         |  CAST(n_cont AS DOUBLE) / n_windows AS contamination,
         |  CAST(coalesce(n_spans, 0) AS BIGINT) AS n_spans,
         |  CAST(coalesce(longest, 0) AS BIGINT) AS longest_span
         |FROM summ m LEFT JOIN sp USING (doc_id) ORDER BY m.doc_id""".stripMargin
    }),

    // — similarity search over embeddings —
    "q_knn_bruteforce" -> graded(Similarity.bruteForceKnn _,
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < ${Similarity.NumQueries}),
         |sims AS (SELECT q_id, e.vec_id AS n_id,
         |  round(${cosSql("q_emb", "e.embedding")}, 6) AS sim
         |  FROM embeddings e, q WHERE q_id <> e.vec_id),
         |ranked AS (SELECT q_id, n_id, sim,
         |  row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank FROM sims)
         |SELECT q_id, rank, n_id, sim FROM ranked WHERE rank <= ${Similarity.K}
         |ORDER BY q_id, rank""".stripMargin),

    // contrastive hard-negative mining: per anchor, top-K most-similar
    // vectors with a DIFFERENT label, via the bounded top-K aggregator
    // hard negatives = brute-force kNN restricted to cross-label pairs;
    // same round-6 + n_id tie-break ordering contract
    "q_hard_negatives" -> graded(Similarity.hardNegatives _,
      s"""WITH q AS (SELECT vec_id AS q_id, label AS q_label, embedding AS q_emb FROM embeddings WHERE vec_id < ${Similarity.NumQueries}),
         |sims AS (SELECT q_id, e.vec_id AS n_id, e.label AS n_label,
         |  round(${cosSql("q_emb", "e.embedding")}, 6) AS sim
         |  FROM embeddings e, q WHERE q_label <> e.label),
         |ranked AS (SELECT q_id, n_id, n_label, sim,
         |  row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank FROM sims)
         |SELECT q_id, rank, n_id, n_label, sim FROM ranked WHERE rank <= ${Similarity.K}
         |ORDER BY q_id, rank""".stripMargin),

    // greedy k-center (farthest-point) coreset selection: shuffle-free
    // scan per round, selected set = O(k·dim) model state
    "q_kcenter_select" -> graded(Similarity.kCenterSelect _, kcenterSql),
    // production IVF: the gated fixed-point Lloyd quantizer at the √N
    // cell sizing — deterministic end-to-end, fully oracle-graded
    // the production √N-sized tiers under the same gate: identical
    // pipeline with cells re-derived from count(*) (sqrtCellsSql)
    "q_knn_ivf" -> graded(Similarity.ivfKnn(_, _), ivfSqrtSql),
    // the IVF serving layout made executable: corpus WRITTEN partitioned
    // by its Lloyd cell, probe = partition-pruned read-back (plan-
    // asserted); same quantizer/search as q_knn_ivf → identical rows
    "q_knn_ivf_pruned" -> graded(Similarity.ivfKnnMaterialized(_, _), ivfSqrtSql),
    // IVF over graft's OWN fixed-point Lloyd quantizer: the whole tier
    // (normalize → quantize → Lloyd cells → multi-probe plan → cosine
    // rerank) is a deterministic pure function, so this ANN tier is
    // graded end-to-end by the DuckDB oracle — closing the rows-only
    // gap of the fitted-model tiers
    // the full exact-quantizer IVF pipeline re-derived: unit vectors →
    // 2^20 fixed-point → the shared Lloyd CTE rounds (k=IvfExactCells)
    // → per-query 3-probe cell plan → exact cosine rerank in probed
    // cells. Every float op mirrors the Spark plan's order.
    "q_knn_ivf_exact" -> graded(Similarity.ivfKnnExact(_, _), ivfExactSql),
    // the graded tier's serving layout: corpus written partitioned by
    // the deterministic Lloyd cell, probes partition-pruned — identical
    // rows to q_knn_ivf_exact, so it shares the full oracle
    // value-identical serving layout (write → pruned read-back of the
    // same deterministic cells) ⇒ same oracle
    "q_knn_ivf_exact_pruned" -> graded(Similarity.ivfKnnExactMaterialized(_, _), ivfExactSql),
    // INCREMENTAL IVF: stored Lloyd quantizer + frozen cell-partitioned
    // base layout; the batch lands via stateless argmin as a delta
    // commit, search reads base + delta partition-pruned
    // Lloyd over the id-prefix base, assignment over all — the stored
    // layout's rows plus the stateless delta commit
    "q_delta_knn_ivf" -> graded(Similarity.deltaIvfKnn(_, _), deltaIvfSql),
    // the lifecycle's closing stage: the delta commit COMPACTED into
    // one cell-partitioned layout — a pure layout change, so it shares
    // the delta oracle and the gate certifies value identity
    // compaction is a pure layout change: same rows, one layout
    "q_delta_knn_ivf_compacted" -> graded(Similarity.deltaIvfKnnCompacted(_, _), deltaIvfSql),
    // MULTI-INGEST IVF: 6/10-fitted quantizer, TWO stored stateless
    // assignment commits — ingest(ingest(base,b1),b2) == one full
    // assignment pass, hash-matched at the 6/10-cut oracle
    // two stateless commits union to one assignment pass at the 6/10
    // cut; the N-commit fold is a pure layout change over it
    "q_delta2_knn_ivf" -> graded(Similarity.delta2IvfKnn(_, _), deltaIvfSqlFor(6)),

    // N-commit compaction: base + both ingest commits folded into ONE
    // layout — pure layout change, shares the delta2 oracle
    "q_delta2_knn_ivf_compacted" -> graded(Similarity.delta2IvfKnnCompacted(_, _),
      deltaIvfSqlFor(6)),

    // DRIFT-MEASURED refit router, IVF edition: sampled insert recall
    // through the maintained index's own serving plan decides
    // serve-delta vs full Lloyd refit; the fixture MEASURES drift
    // (0.46) and exercises the ESCALATE arm — the graph router serves
    // its delta arm, so both router arms sit under the gate
    // expectArm pins the oracle's arm IN the entry: a fixture/sampling
    // drift across the recall floor now fails loudly as a routing
    // assertion instead of an opaque hash mismatch (round-20 advice)
    // the IVF router MEASURES 0.46 sampled insert recall on the
    // fixture (the base-fitted quantizer genuinely mis-serves the
    // inserted vectors here) and ESCALATES — so the graded entry
    // exercises the refit arm and shares q_knn_ivf_exact's full-fit
    // oracle; the graph router above serves its delta arm, putting
    // BOTH router arms under the gate across the pair
    "q_knn_ivf_drift_routed" -> graded(Similarity.ivfKnnDriftRouted(_, _, expectArm = Some("refit")),
      ivfExactSql),

    // RETRACTION, ANN edition: tombstoned ids fold out of the stored
    // cell-partitioned layout (one anti-filter write, model untouched
    // — the drift router decides when the FIT must refresh)
    // retraction: the maintenance chain with assignment restricted to
    // survivors — the quantizer still fits over the ORIGINAL base
    // (stored-model semantics; tombstones exclude the query ids)
    "q_retract_knn_ivf" -> graded(Similarity.retractIvfKnn(_, _),
      deltaIvfSqlFor(8,
        s"(vec_id % 10 <> 7 OR vec_id < ${graft.operators.Similarity.NumQueries})")),

    // RETRACTION, graph edition: serving over the stored ∪ inserted
    // edges with every tombstone-touching edge filtered — deleted
    // nodes neither returned nor traversable; the drift router prices
    // the eventual rebuild as connectivity erodes
    // graph retraction: immutable build history + tombstone-filtered
    // serving edges
    "q_retract_knn_graph" -> graded(Similarity.retractGraphKnn _, retractGraphSql),

    // the IVF-PQ composition under the gate: int8 coarse dot inside
    // the deterministic Lloyd cells of a partition-pruned packed
    // layout, exact rerank — fully oracle-graded
    "q_knn_quantized_ivf_exact" -> graded(Similarity.quantizedIvfKnnExact(_, _),
      quantizedIvfExactSql),

    // product quantization: per-subspace gated-Lloyd codebooks, m-code
    // encoding, ADC shortlist + exact rerank — fully oracle-graded
    "q_knn_pq" -> graded(Similarity.pqKnn(_, _), pqKnnSql),
    // NSW-style graph ANN: navigable neighbor graph (blocked proximity
    // links + hash-ring shortcuts) searched by batch beam expansion;
    // recall floors in SimilaritySpec, and since round 15 the whole
    // build+search is mix31-deterministic -> full DuckDB oracle
    // the graph-ANN family, fully re-derived since round 15 (build +
    // beam search): deterministic mix31 pseudo-randomness replaced
    // xxhash64, so both the blocked and the NN-descent graphs are pure
    // functions of the corpus DuckDB can recompute
    "q_knn_graph" -> graded(Similarity.graphKnn _, blockedGraphSql),
    // INCREMENTAL NSW: batch vectors beam-search the STORED edge table
    // for their top-M links (insert = search cost, never a rebuild);
    // serving runs over stored ∪ inserted edges
    // maintain-then-search re-derived end-to-end: base build + insert
    // beams + serving beam, every stage the oracle-locked arithmetic
    "q_delta_knn_graph" -> graded(Similarity.deltaGraphKnn _, deltaGraphSql),
    // the graph lifecycle's closing stage: base + insert commits folded
    // into ONE edge table (pure layout change — shares the delta-graph
    // oracle, the gate certifies value identity)
    // edge compaction is a pure layout change: same edges, one table
    "q_delta_knn_graph_compacted" -> graded(Similarity.deltaGraphKnnCompacted _, deltaGraphSql),
    // MULTI-INGEST graph: the ORDER-DEPENDENT chained insert — ingest
    // 2 beams over the edges ingest 1 appended; two unrolled insert
    // beams in the oracle re-derive insert(insert(G0,b1),b2)
    // the chained two-beam insert recurrence, fully unrolled
    "q_delta2_knn_graph" -> graded(Similarity.delta2GraphKnn _, delta2GraphSql),

    // DRIFT-MEASURED refit router: sampled insert recall over the
    // maintained edges vs an exact scan decides serve-delta vs refit
    // (the routeWide discipline on ANN maintenance); the fixture
    // measures ~1.0 → serves the delta graph, sharing its oracle
    // the router measures ~1.0 sampled recall on the fixture and
    // serves the delta-maintained graph — the delta oracle verbatim
    "q_knn_graph_drift_routed" -> graded(Similarity.graphKnnDriftRouted(_, _, expectArm = Some("serve")),
      deltaGraphSql),

    // the routed production entry (blocked <=200k, NN-descent above):
    // at gate scale the router picks the blocked build, so this shares
    // q_knn_graph's oracle — the gate certifies the routing decision
    // the router picks the blocked build at gate scale (n=500 <= 200k)
    "q_knn_graph_auto" -> graded(Similarity.graphKnnAuto _, blockedGraphSql),

    "q_embedding_dedup" -> graded(Similarity.embeddingDedup(_, _),
      s"""WITH cent AS (SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings
         |  WHERE vec_id < (SELECT greatest(4, CAST(floor(sqrt(count(*))) AS BIGINT)) FROM embeddings)),
         |assigned AS (SELECT e.vec_id,
         |  min({'d': list_sum(list_transform(generate_series(1, len(e.embedding)),
         |        i -> (e.embedding[i]::DOUBLE - c_emb[i]::DOUBLE) * (e.embedding[i]::DOUBLE - c_emb[i]::DOUBLE))),
         |       'c': c_id}) AS m
         |  FROM embeddings e, cent GROUP BY e.vec_id),
         |tagged AS (SELECT e.vec_id, e.embedding, a.m.c AS cell
         |  FROM embeddings e JOIN assigned a ON e.vec_id=a.vec_id)
         |SELECT id_a, id_b, sim FROM (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    round(${cosSql("a.embedding", "b.embedding")}, 6) AS sim
         |  FROM tagged a JOIN tagged b ON a.cell=b.cell AND a.vec_id<b.vec_id)
         |WHERE sim >= ${Similarity.SemDedupThreshold} ORDER BY id_a, id_b""".stripMargin),

    // int8 scalar quantization: 4x vector compression with measured
    // reconstruction error (per-row codegen arithmetic, gate-exact)
    // int8 quantization: all-double IEEE arithmetic both engines
    // reproduce exactly; the error sum is an IN-ORDER left fold on both
    // sides (Spark aggregate / DuckDB list_reduce) — float sums must
    // never ride an order-free aggregate. (x - q*scale) is squared by
    // multiplication, not pow(), to keep the op identical.
    "q_embedding_quantize" -> graded(Similarity.embeddingQuantize _,
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |  FROM embeddings),
        |s AS (SELECT vec_id, emb,
        |    list_max(list_transform(emb, x -> abs(x))) / 127.0 AS scale FROM e),
        |q AS (SELECT vec_id, emb, scale,
        |    CASE WHEN scale = 0.0 THEN list_transform(emb, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(emb, x -> CAST(round(x / scale) AS BIGINT)) END AS qvec
        |  FROM s)
        |SELECT vec_id, scale, CAST(len(emb) AS BIGINT) AS dim,
        |  array_to_string(list_transform(qvec[1:8], v -> CAST(v AS VARCHAR)), ',') AS q_head8_csv,
        |  sqrt(list_reduce(
        |    list_prepend(0.0, list_transform(generate_series(1, len(emb)),
        |      i -> (emb[i] - qvec[i] * scale) * (emb[i] - qvec[i] * scale))),
        |    (a, b) -> a + b)) AS recon_err
        |FROM q ORDER BY vec_id""".stripMargin),

    // chunk→doc mean pooling; float parity by explicit fold ORDER
    // (first member seeds, like DuckDB list_reduce), never tolerance
    // mean pooling: members fold in vec_id order with the FIRST member
    // as init on BOTH sides (list_reduce's seeding; a zero-vector init
    // would differ on ±0.0 inputs) — bit-identical running sums, so
    // the exploded doubles sit directly under the hash
    "q_embedding_pool" -> graded(Similarity.embeddingPool _,
      s"""WITH m AS (
         |  SELECT vec_id // ${graft.operators.Similarity.PoolGroup} AS group_id,
         |    array_agg(list_transform(embedding, x -> x::DOUBLE) ORDER BY vec_id) AS embs,
         |    count(*) AS n
         |  FROM embeddings GROUP BY 1),
         |pooled AS (
         |  SELECT group_id, n,
         |    list_reduce(embs,
         |      (acc, e) -> list_transform(generate_series(1, len(acc)), i -> acc[i] + e[i])) AS vec
         |  FROM m)
         |SELECT group_id, CAST(unnest(generate_series(1, len(vec))) AS BIGINT) AS pos,
         |  unnest(vec) / n AS val
         |FROM pooled ORDER BY group_id, pos""".stripMargin),

    // declarative Lloyd's k-means (fixed seeds, 3 rounds, fixed-point
    // centroid sums) — deterministic, so the full clustering sits
    // under the DuckDB gate; the same chain is the IVF coarse quantizer
    // full Lloyd's clustering under the exact gate: fixed-point
    // centroid sums make every float deterministic (see kmeansChainSql)
    "q_kmeans" -> graded(Similarity.kmeansAssign _,
      s"""WITH $kmeansChainSql,
         |sz AS (SELECT cluster, count(*) AS n_cluster FROM kmf GROUP BY 1)
         |SELECT kmf.vec_id, kmf.cluster, kmf.dist, sz.n_cluster
         |FROM kmf JOIN sz USING (cluster) ORDER BY vec_id""".stripMargin),

    // the SAME assignment executed by the streaming engine: batch-fitted
    // centroid model as plan literals, stateless per-row argmin, APPEND
    // mode with zero state rows (the serving shape); shares the Lloyd
    // chain oracle minus the batch-side size aggregate
    // the streaming twin: same Lloyd chain, assignment columns only
    "q_stream_kmeans" -> graded(graft.streaming.EmbeddingStreams.streamedKmeansAssign _,
      s"""WITH $kmeansChainSql
         |SELECT vec_id, cluster, dist FROM kmf ORDER BY vec_id""".stripMargin),

    // the delta-SemDeDup SERVING twin: arrivals assigned via centroid
    // literals, adjudicated against the frozen stored decision table
    // through one stream-static join — zero state rows
    // the serving twin: the same chain with the comparison side
    // restricted to base (batch-internal terms vanish at batch size 1)
    "q_stream_semdedup_delta" -> graded(graft.streaming.EmbeddingStreams.streamedDeltaSemDedup(_, _),
      deltaSemdedupServeSql),

    // kNN majority-vote classification over the labeled fixture — the
    // label-propagation primitive; vote = groupBy over the exact top-k
    // kNN majority vote: extend the gated brute-force top-k with the
    // label join + (n_votes DESC, label) argmax
    "q_knn_classify" -> graded(Similarity.knnClassify _,
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < ${graft.operators.Similarity.NumQueries}),
         |sims AS (SELECT q_id, e.vec_id AS n_id,
         |  round(${cosSql("q_emb", "e.embedding")}, 6) AS sim
         |  FROM embeddings e, q WHERE q_id <> e.vec_id),
         |ranked AS (SELECT q_id, n_id,
         |  row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank FROM sims),
         |votes AS (SELECT t.q_id, CAST(e.label AS BIGINT) AS label, count(*) AS n_votes
         |  FROM ranked t JOIN embeddings e ON t.n_id = e.vec_id
         |  WHERE t.rank <= ${graft.operators.Similarity.K} GROUP BY 1, 2),
         |best AS (SELECT q_id, label, n_votes,
         |  row_number() OVER (PARTITION BY q_id ORDER BY n_votes DESC, label) AS rn FROM votes)
         |SELECT b.q_id, b.label AS pred_label, b.n_votes,
         |  CAST(e2.label AS BIGINT) AS true_label
         |FROM best b JOIN embeddings e2 ON b.q_id = e2.vec_id
         |WHERE b.rn = 1 ORDER BY b.q_id""".stripMargin),

    // temperature flattening over SEMANTIC clusters (kmeans assignment
    // instead of language tags) — the DataComp-style topic rebalance
    // temperature flattening over the Lloyd-chain clusters; same
    // IEEE-exact sqrt/divide rate math as q_temperature_mixture
    "q_cluster_mixture" -> graded(Similarity.clusterMixture _,
      s"""WITH $kmeansChainSql,
         |sz AS (SELECT cluster, count(*) AS n_cluster FROM kmf GROUP BY 1),
         |sw AS (SELECT cluster, n_cluster, 1.0/sqrt(n_cluster) AS w FROM sz),
         |rates AS (SELECT cluster, n_cluster,
         |    w / (SELECT max(w) FROM sw) AS rate FROM sw)
         |SELECT r.cluster, r.n_cluster, r.rate, count(*) AS n_sampled,
         |  min(kmf.vec_id) AS first_vec
         |FROM kmf JOIN rates r USING (cluster)
         |WHERE ${h32("CAST(kmf.vec_id AS VARCHAR) || '#cmix'")} % 1000000 < r.rate * 1000000
         |GROUP BY 1, 2, 3 ORDER BY r.cluster""".stripMargin),

    // SemDeDup-style semantic dedup: k-means blocks, within-cluster
    // cosine pairs, rank-based keep policy (keep the outlier, prune
    // the dense duplicated core) — a curation DECISION per vector
    // SemDeDup decision: rank within cluster by centroid distance DESC
    // (vec_id tie-break), drop any vector with a higher-ranked
    // within-cluster neighbor at cosine >= SemDedupThreshold
    "q_semdedup" -> graded(Similarity.semanticDedup(_, _),
      s"""WITH $kmeansChainSql,
         |r AS (SELECT vec_id, cluster,
         |    row_number() OVER (PARTITION BY cluster ORDER BY dist DESC, vec_id) AS rnk
         |  FROM kmf),
         |re AS (SELECT r.vec_id, r.cluster, r.rnk, e.embedding
         |  FROM r JOIN embeddings e USING (vec_id)),
         |dropped AS (SELECT DISTINCT b.vec_id
         |  FROM re a JOIN re b ON a.cluster = b.cluster AND a.rnk < b.rnk
         |  WHERE round(${cosSql("a.embedding", "b.embedding")}, 6) >= ${Similarity.SemDedupThreshold})
         |SELECT r.vec_id, r.cluster, CAST(r.rnk AS BIGINT) AS "rank",
         |  CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
         |FROM r LEFT JOIN dropped d ON r.vec_id = d.vec_id ORDER BY r.vec_id""".stripMargin),

    // INCREMENTAL SemDeDup: stored base-fitted quantizer + frozen
    // cluster-partitioned decision table; batch assigned statelessly,
    // decision = one pruned join vs stored members + batch-internal
    // pass (== the full recompute restricted to batch vec_ids)
    // the incremental decision: Lloyd over the id-prefix base,
    // assignment + rank + drop over the union, batch rows out — the
    // frozen-base delta operator must emit exactly these
    "q_delta_semdedup" -> graded(Similarity.deltaSemDedup(_, _), deltaSemdedupSql),

    // the quantized serving path: int8-dot coarse pass over the packed
    // table + exact rerank of the short list (approximate -> rows-only)
    // the int8 two-stage kNN re-derived: per-vector scale = max|x|/127,
    // q_i = clamp(floor(x/scale + 0.5)) — floor(x+0.5) IS Java's
    // Math.round (Int8PackExpr), NOT DuckDB round()'s half-away —
    // integer coarse dot over every corpus vector, top-QuantRerank per
    // query, exact cosine rerank of the shortlist. Deterministic
    // end-to-end ("approximate" only vs brute force), so it grades.
    "q_knn_quantized" -> graded(Similarity.quantizedKnn _,
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
         |s AS (SELECT vec_id, emb,
         |    list_max(list_transform(emb, x -> abs(x))) / 127.0 AS scale,
         |    sqrt(list_sum(list_transform(emb, x -> x * x))) AS nrm FROM e),
         |q AS (SELECT vec_id, scale, nrm,
         |    CASE WHEN scale = 0.0 THEN list_transform(emb, x -> CAST(0 AS BIGINT))
         |         ELSE list_transform(emb, x -> greatest(-127, least(127, CAST(floor(x / scale + 0.5) AS BIGINT)))) END AS qv
         |  FROM s),
         |qq AS (SELECT vec_id AS q_id, qv AS q_qv FROM q WHERE vec_id < ${Similarity.NumQueries}),
         |coarse AS (SELECT qq.q_id, t.vec_id AS n_id,
         |    (t.scale * CAST(list_sum(list_transform(generate_series(1, len(t.qv)),
         |        i -> qq.q_qv[i] * t.qv[i])) AS DOUBLE))
         |      / (CASE WHEN t.nrm = 0.0 THEN 1.0 ELSE t.nrm END) AS qsim
         |  FROM q t, qq WHERE qq.q_id <> t.vec_id),
         |short AS (SELECT q_id, n_id FROM coarse
         |  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY qsim DESC, n_id) <= ${Similarity.QuantRerank}),
         |sims AS (SELECT sl.q_id, sl.n_id,
         |    round(${cosSql("qe.embedding", "se.embedding")}, 6) AS sim
         |  FROM short sl
         |  JOIN embeddings se ON se.vec_id = sl.n_id
         |  JOIN embeddings qe ON qe.vec_id = sl.q_id),
         |ranked AS (SELECT q_id, n_id, sim,
         |  row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank FROM sims)
         |SELECT q_id, rank, n_id, sim FROM ranked WHERE rank <= ${Similarity.K}
         |ORDER BY q_id, rank""".stripMargin),

    // the same beam search over an NN-descent-built graph — the
    // O(N·M²)-per-round build whose round cost scales linearly with
    // the corpus; mix31-deterministic since round 15 -> full oracle
    "q_knn_graph_nnd" -> graded(Similarity.graphKnnNnd(_, _), nndGraphSql),
    // IVF-PQ-style composition: the int8 coarse pass confined to the
    // probed √N Lloyd cells of a partition-pruned packed layout — the
    // sublinear form of q_knn_quantized, fully oracle-graded
    "q_knn_quantized_ivf" -> graded(Similarity.quantizedIvfKnn(_, _), quantizedIvfSqrtSql),
    // — time-windowed event analytics (streaming-shaped, batch oracle) —
    "q_tumbling" -> graded(EventAnalytics.tumbling _, hourlyEventsSql),
    // the SAME aggregation executed as a real StreamingQuery (streaming
    // file source -> AvailableNow -> memory sink); shares the oracle
    "q_stream_tumbling" -> graded(graft.streaming.EventStreams.streamedTumbling _, hourlyEventsSql),

    "q_sliding" -> graded(EventAnalytics.sliding _,
      """SELECT strftime(s, '%Y-%m-%d %H:%M:%S') AS win_start, count(*) AS n FROM (
        |SELECT time_bucket(INTERVAL '30 minutes', ts) AS s FROM events
        |UNION ALL
        |SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL 30 MINUTE AS s FROM events)
        |GROUP BY 1 ORDER BY win_start""".stripMargin),

    "q_sessions" -> graded(EventAnalytics.sessions _, sessionsSql),

    // SCD-2 dimension build: per-user event_type validity intervals
    // gaps-and-islands closing on event_type CHANGE (not inactivity):
    // (ts, event_id) ordering everywhere — ts ties would otherwise
    // make lag() peer-order-dependent between engines
    "q_scd2" -> graded(EventAnalytics.scd2 _,
      """WITH flagged AS (SELECT user_id, ts, event_id, event_type,
        |  CASE WHEN lag(event_type) OVER w IS NULL
        |       OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |runs AS (SELECT user_id, event_type, ts,
        |  CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version FROM flagged),
        |iv AS (SELECT user_id, version, min(event_type) AS event_type,
        |  min(ts) AS t0, count(*) AS n_events FROM runs GROUP BY 1, 2)
        |SELECT user_id, version, event_type,
        |  strftime(t0, '%Y-%m-%d %H:%M:%S') AS valid_from,
        |  strftime(lead(t0) OVER wv, '%Y-%m-%d %H:%M:%S') AS valid_to,
        |  n_events, lead(t0) OVER wv IS NULL AS is_current
        |FROM iv WINDOW wv AS (PARTITION BY user_id ORDER BY version)
        |ORDER BY user_id, version""".stripMargin),

    "q_retention" -> graded(EventAnalytics.retention _,
      """WITH hourly AS (SELECT DISTINCT time_bucket(INTERVAL '1 hour', ts) AS h, user_id FROM events)
        |SELECT strftime(a.h, '%Y-%m-%d %H:%M:%S') AS hour, count(*) AS active,
        |count(b.user_id) AS retained
        |FROM hourly a LEFT JOIN hourly b
        |ON b.h = a.h - INTERVAL 1 HOUR AND b.user_id = a.user_id
        |GROUP BY a.h ORDER BY hour""".stripMargin),

    "q_funnel" -> graded(EventAnalytics.funnel _,
      """WITH scored AS (SELECT user_id, ts, event_type,
        |  min(CASE WHEN event_type='purchase' THEN ts END) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_purchase
        |  FROM events)
        |SELECT user_id, count(*) AS n_clicks,
        |CAST(sum(CASE WHEN next_purchase IS NOT NULL
        |  AND next_purchase <= ts + INTERVAL 30 MINUTE THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
        |FROM scored WHERE event_type='click' GROUP BY user_id ORDER BY user_id""".stripMargin),

    // order-sensitive list aggregation: per-user first-10 event paths
    "q_event_paths" -> graded(EventAnalytics.eventPaths _,
      s"""SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
         |array_to_string(list(event_type ORDER BY ts, event_id)[1:${EventAnalytics.PathLen}], '>') AS path
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),

    // time-weighted average value (irregular time-series aggregation)
    "q_twap" -> graded(EventAnalytics.twap _,
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us,
        |  CAST(round(value*100) AS BIGINT) AS cents FROM events),
        |d AS (SELECT user_id, cents,
        |  (lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) - us) // 1000 AS dur_ms FROM e)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_intervals,
        |CAST(sum(cents * dur_ms) AS BIGINT)::DOUBLE / CAST(sum(dur_ms) AS BIGINT)::DOUBLE / 100.0 AS twap
        |FROM d WHERE dur_ms IS NOT NULL GROUP BY user_id
        |HAVING CAST(sum(dur_ms) AS BIGINT) > 0 ORDER BY user_id""".stripMargin),

    "q_new_users" -> graded(EventAnalytics.newUsers _,
      """WITH fs AS (SELECT user_id, time_bucket(INTERVAL '1 hour', min(ts)) AS h
        |  FROM events GROUP BY user_id),
        |hourly AS (SELECT h, count(*) AS n_new FROM fs GROUP BY h)
        |SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour, n_new,
        |CAST(sum(n_new) OVER (ORDER BY h ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
        |FROM hourly ORDER BY hour""".stripMargin),

    // α=1/2 EWMA smoother: power-of-two weights → exact long sums
    // α=1/2 EWMA: power-of-two weights make the numerator/denominator
    // exact LONG sums; the reported ewma is one exact-input division
    "q_ewma" -> graded(EventAnalytics.ewma _, ewmaSql),

    // fastText-style linear quality model (map-only scan; exact-long
    // score via per-feature fixed-point quantization)
    // per-FEATURE fixed-point quantization makes the linear quality
    // model's weighted sum and threshold compare exact-integer
    "q_quality_model" -> graded(TextAnalysis.qualityModel _, {
      val th = graft.operators.TextAnalysis.QualityModelThresholdFp
      s"""WITH t AS (SELECT doc_id, text,
         |  list_transform(list_filter(string_split_regex(text,'[^a-zA-Z]'), x -> x<>''),
         |    x -> lower(x)) AS toks FROM documents),
         |f AS (SELECT doc_id,
         |  CAST(round((len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','it')))::DOUBLE
         |    / greatest(len(toks),1)) * 1048576.0) AS BIGINT) AS swr_fp,
         |  CAST(round((length(regexp_replace(text,'[^a-zA-Z]','','g'))::DOUBLE
         |    / greatest(length(text),1)) * 1048576.0) AS BIGINT) AS alpha_fp,
         |  CAST(round((len(list_distinct(toks))::DOUBLE
         |    / greatest(len(toks),1)) * 1048576.0) AS BIGINT) AS uniq_fp,
         |  CAST(round(((length(regexp_replace(text,'[^a-zA-Z]','','g'))::DOUBLE
         |    / greatest(len(toks),1)) / 10) * 1048576.0) AS BIGINT) AS mwl_fp
         | FROM t)
         |SELECT doc_id, CAST(3*swr_fp + 2*alpha_fp + 2*uniq_fp + mwl_fp AS BIGINT) AS score_fp,
         |  CAST(3*swr_fp + 2*alpha_fp + 2*uniq_fp + mwl_fp AS BIGINT)::DOUBLE / 1048576.0 AS score,
         |  (3*swr_fp + 2*alpha_fp + 2*uniq_fp + mwl_fp) > $th AS keep
         |FROM f ORDER BY doc_id""".stripMargin
    }),

    // median/MAD robust outliers (exact percentiles + broadcast flags)
    // exact interpolated percentiles of integer cents on both engines
    // (the q_percentile precedent); flag and z share one IEEE tree
    "q_anomaly_mad" -> graded(EventAnalytics.madAnomalies _,
      """WITH e AS (SELECT event_id, event_type,
        |  CAST(round(value*100) AS BIGINT) AS cents FROM events),
        |med AS (SELECT event_type, quantile_cont(cents, 0.5) AS med FROM e GROUP BY 1),
        |d AS (SELECT event_id, event_type, cents, med,
        |  abs(cents::DOUBLE - med) AS dev FROM e JOIN med USING(event_type)),
        |mad AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad FROM d GROUP BY 1)
        |SELECT event_type, event_id, cents, med, mad,
        |  dev / (1.4826 * mad) AS robust_z
        |FROM d JOIN mad USING(event_type)
        |WHERE mad > 0.0 AND dev > 3.0 * (1.4826 * mad)
        |ORDER BY event_type, event_id""".stripMargin),

    // batch backfill twin of the streaming 3σ detector (shared oracle)
    "q_anomaly_running" -> graded(EventAnalytics.runningAnomalies _, anomalySql),

    // — multimodal columns —
    // REAL codec round trips (JDK ImageIO PNG, RIFF/PCM WAV): payloads
    // synthesized deterministically, decoded by actual format code, and
    // the features must match DuckDB's closed-form pixel/sample math
    "q_image_decode" -> graded(Multimodal.imageDecode _,
      """SELECT doc_id, CAST(32 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height,
        |CAST(sum((doc_id*31 + y*7 + x) % 256) AS BIGINT) AS luma_sum
        |FROM (SELECT doc_id, unnest(generate_series(0, 15)) AS y FROM documents),
        |     (SELECT unnest(generate_series(0, 31)) AS x)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // perceptual average-hash fingerprint over the real decoded raster
    // the 8x8-block average-hash bits re-derived arithmetically:
    // block mean vs image mean as the scaled integer compare
    // bs*64 > total (blocks are 4x2 px over 32x16), packed into two
    // unsigned 32-bit halves (the simhash shift trick, twice)
    "q_image_ahash" -> graded(Multimodal.imageAhash _, imageAhashSql),
    // visual near-dup DECISION pairs: 4×16-bit aHash bands bucket the
    // candidates (Manku banding — complete recall at Hamming ≤ 3),
    // integer popcount verifies; joins the multimodal + dedup families
    // banded Hamming-ball pairs over the same hash (exact at ≤ 3)
    "q_image_neardup" -> graded(Multimodal.imageNeardup _, imageNeardupSql),

    // RETRACTION, media edition: tombstones anti-join the stored
    // doc→aHash table; pairs re-derive at distinct-hash granularity —
    // the decode never re-runs, and a hash class leaves the band join
    // exactly when its last member dies
    // retraction: the same banded chain over the surviving docs
    "q_retract_image_neardup" -> graded(Multimodal.retractImageNeardup _,
      overRetainedDocs("doc_id % 10 <> 7", imageNeardupSql, "id_a, id_b")),

    // Manku multi-table widening of the same contract (C(6,3)=20
    // three-block ~11-bit band tables, same pigeonhole completeness):
    // the d ≫ 10^6 diverse-hash escalation, value-identical output
    // the wide tier and the router are value-identical to the 4-band
    // tier by construction (same verify+expansion over a
    // complete-recall candidate set), so all three share ONE oracle —
    // a drift in any tier breaks its own hash match
    "q_image_neardup_wide" -> graded(Multimodal.imageNeardupWide _, imageNeardupSql),
    // routed production entry: distinct-hash count picks the tier
    "q_image_neardup_auto" -> graded(Multimodal.imageNeardupAuto _, imageNeardupSql),
    // connected components over the visual pair graph (near-dup at a
    // Hamming ball is not transitive — group dedup needs the closure)
    // transitive closure over the visual pairs (the q_dup_clusters
    // recursive-CTE shape on the image pair list)
    "q_image_dup_clusters" -> graded(Multimodal.imageDupClusters _, imageDupClustersSql),
    // CC MAINTENANCE under ingest: stored hash-label table + batch
    // bridges through a contracted mini-CC — batch-sized closure work,
    // value-identical to the full recompute (shared oracle)
    // the INCREMENTAL path changes WORK, never results: the maintained
    // label table over base ∪ batch equals the full closure over the
    // whole corpus, so the delta entry shares the oracle verbatim
    "q_delta_image_dup_clusters" -> graded(Multimodal.deltaImageDupClusters _, imageDupClustersSql),

    // MULTI-INGEST visual closure: maintain(maintain(L0,p1),p2) at
    // hash granularity over two stored ingests + a live third ==
    // one CC over the whole corpus — q_image_dup_clusters' oracle
    // two chained hash-level maintenance steps == one full closure
    "q_delta2_image_dup_clusters" -> graded(Multimodal.delta2ImageDupClusters _,
      imageDupClustersSql),

    // RETRACTION closure, media edition: doc tombstones touch the
    // hash graph only through dead hashes (refcounts from the stored
    // doc→hash table); touched components relabel over surviving
    // stored pairs — no decode, no re-banding
    // retraction: the same recursive closure over surviving docs
    "q_retract_image_dup_clusters" -> graded(Multimodal.retractImageDupClusters _,
      overRetainedDocs("doc_id % 10 <> 7", imageDupClustersSql,
        "cluster_rep")),

    // exact visual dedup: one row per image → its aHash-class
    // representative + class size (the linear-output decision the
    // pair contract above audits)
    "q_image_dedup" -> graded(Multimodal.imageDedup _, imageDedupSql),

    // INCREMENTAL media ingest (the q_delta_dedup discipline on the
    // hash tables): batch band keys probe the stored index, existing
    // vs existing never enumerated
    // incremental ingest: the full-batch pair lists restricted to the
    // mod-10 batch side — the delta probe must match them exactly
    "q_delta_image_neardup" -> graded(Multimodal.deltaImageNeardup _,
      deltaPairsSql(imageNeardupSql)),

    "q_delta_audio_neardup" -> graded(Multimodal.deltaAudioNeardup _,
      deltaPairsSql(audioNeardupSql)),

    // delta dedup DECISION: one row per new record → frozen stored
    // rep (or elects one), class size after ingest
    // frozen-rep delta dedup decision: existing classes keep their
    // stored (base-min) representative, new classes elect min batch
    // doc; n_class counts the class AFTER ingest
    "q_delta_image_dedup" -> graded(Multimodal.deltaImageDedup _,
      s"""WITH $ahashCtesSql,
         |base AS (SELECT * FROM ahv WHERE doc_id % 10 < 8),
         |batch AS (SELECT * FROM ahv WHERE doc_id % 10 >= 8),
         |breps AS (SELECT ahash_hi, ahash_lo, min(doc_id) AS base_rep,
         |    count(*) AS base_n FROM base GROUP BY 1, 2),
         |bcls AS (SELECT ahash_hi, ahash_lo, min(doc_id) AS batch_min,
         |    count(*) AS batch_n FROM batch GROUP BY 1, 2)
         |SELECT b.doc_id, coalesce(base_rep, batch_min) AS rep_id,
         |  CAST(coalesce(base_n, 0) + batch_n AS BIGINT) AS n_class
         |FROM batch b JOIN bcls USING (ahash_hi, ahash_lo)
         |LEFT JOIN breps USING (ahash_hi, ahash_lo)
         |ORDER BY doc_id""".stripMargin),

    // the audio twin: the same frozen-rep decision on the wide
    // fingerprint class key
    "q_delta_audio_dedup" -> graded(Multimodal.deltaAudioDedup _,
      s"""WITH $audioFpWideCteSql,
         |base AS (SELECT * FROM afw WHERE doc_id % 10 < 8),
         |batch AS (SELECT * FROM afw WHERE doc_id % 10 >= 8),
         |breps AS (SELECT afp_hi, afp_lo, min(doc_id) AS base_rep,
         |    count(*) AS base_n FROM base GROUP BY 1, 2),
         |bcls AS (SELECT afp_hi, afp_lo, min(doc_id) AS batch_min,
         |    count(*) AS batch_n FROM batch GROUP BY 1, 2)
         |SELECT b.doc_id, coalesce(base_rep, batch_min) AS rep_id,
         |  CAST(coalesce(base_n, 0) + batch_n AS BIGINT) AS n_class
         |FROM batch b JOIN bcls USING (afp_hi, afp_lo)
         |LEFT JOIN breps USING (afp_hi, afp_lo)
         |ORDER BY doc_id""".stripMargin),

    // resize maps out(x,y) <- in(2x, 2y) for 32x16 -> 16x8
    "q_image_resize" -> graded(Multimodal.imageResize _,
      """SELECT doc_id, CAST(16 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
        |CAST(sum((doc_id*31 + (y*2)*7 + (x*2)) % 256) AS BIGINT) AS luma_sum
        |FROM (SELECT doc_id, unnest(generate_series(0, 7)) AS y FROM documents),
        |     (SELECT unnest(generate_series(0, 15)) AS x)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    "q_audio_decode" -> graded(Multimodal.audioDecode _,
      """SELECT doc_id, CAST(16000 AS BIGINT) AS sample_rate,
        |CAST(1000 + doc_id % 500 AS BIGINT) AS n_samples,
        |CAST(sum(abs((doc_id*13 + i*17) % 65536 - 32768)) AS BIGINT) AS amp_sum
        |FROM (SELECT doc_id, unnest(generate_series(0, 999 + doc_id % 500)) AS i
        |      FROM documents)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // 16-frame energy fingerprint over the REAL RIFF decode — the
    // audio blocking key (1-D aHash twin; bands into the same
    // Hamming-ball consumer shape as the image family)
    // frame f = floor(i*F/n); bit f iff frame mean |amp| > clip mean,
    // cross-multiplied to exact integers (fs*n > total*nf); samples
    // are the AM fixture: +/-8191 base x (1 + (doc_id + f) % 4)
    "q_audio_fingerprint" -> graded(Multimodal.audioFingerprint _,
      s"""WITH $audioFpCteSql
         |SELECT doc_id, n_samples, afp FROM afv
         |ORDER BY doc_id""".stripMargin),

    // exact acoustic dedup: fingerprint-class representative + size,
    // one row per clip (the q_image_dedup decision on the audio key)
    // exact acoustic dedup: min-doc representative + class size per
    // fingerprint class (the q_image_dedup shape on the audio key)
    "q_audio_dedup" -> graded(Multimodal.audioDedup _,
      s"""WITH $audioFpCteSql,
         |reps AS (SELECT afp, min(doc_id) AS rep_id,
         |    count(*) AS n_class
         |  FROM afv GROUP BY 1)
         |SELECT doc_id, rep_id, n_class
         |FROM afv JOIN reps USING (afp)
         |ORDER BY doc_id""".stripMargin),

    // WIDE 64-frame fingerprint as two 32-bit halves — the bandable
    // acoustic key (the image-aHash convention on audio)
    // wide 64-frame fingerprint, two 32-bit halves (aHash convention)
    "q_audio_fingerprint_wide" -> graded(Multimodal.audioFingerprintWide _,
      s"""WITH $audioFpWideCteSql
         |SELECT doc_id, n_samples, afp_hi, afp_lo FROM afw
         |ORDER BY doc_id""".stripMargin),

    // acoustic near-dup pairs: the image banding engine verbatim on
    // the wide fingerprint (completes the audio triple: blocking key →
    // near-dup pairs → dedup decision)
    // acoustic near-dup: 4×16-bit banding + popcount verify over the
    // wide fingerprint — the imageNeardupSql shape on the audio key
    "q_audio_neardup" -> graded(Multimodal.audioNeardup _, audioNeardupSql),

    // chunked long-clip fingerprints: one row per (clip, chunk), each
    // chunk against its own mean — lifts the 2^24-sample clip bound
    // chunked fingerprints: chunk = i // 512, frame index and the
    // cross-multiplied mean compare both within-CHUNK (nc, the short
    // tail chunk's own length — never the clip's)
    "q_audio_fingerprint_chunks" -> graded(Multimodal.audioFingerprintChunks _,
      s"""SELECT doc_id, chunk, n_samples, afp FROM ($audioChunksSql)
         |ORDER BY doc_id, chunk""".stripMargin),

    // chunk-level acoustic near-dup: df-capped posting join on chunk
    // fingerprints, verified by offset-consistent aligned-run counting
    // — partial-overlap detection whole-clip keys cannot see
    // chunk-level acoustic near-dup: df-capped exact-fingerprint
    // posting join, per-pair best offset-consistent aligned run
    "q_audio_chunk_neardup" -> graded(Multimodal.audioChunkNeardup _, {
      val cap = graft.operators.Multimodal.AudioChunkMaxDf
      val minA = graft.operators.Multimodal.AudioChunkMinAligned
      s"""WITH ch AS (SELECT * FROM ($audioChunksSql)),
         |dfc AS (SELECT afp FROM (
         |    SELECT afp, count(DISTINCT doc_id) AS df FROM ch GROUP BY 1)
         |  WHERE df <= $cap),
         |posts AS (SELECT afp, doc_id, chunk FROM ch
         |  WHERE afp IN (SELECT afp FROM dfc)),
         |cnt AS (SELECT id_a, id_b, offs, count(*) AS n FROM (
         |    SELECT a.doc_id AS id_a, c.doc_id AS id_b,
         |      c.chunk - a.chunk AS offs
         |    FROM posts a JOIN posts c
         |      ON a.afp = c.afp AND a.doc_id < c.doc_id)
         |  GROUP BY 1, 2, 3),
         |best AS (SELECT id_a, id_b, max(n) AS n_aligned FROM cnt
         |  GROUP BY 1, 2 HAVING max(n) >= $minA)
         |SELECT id_a, id_b, min(offs) AS "offset", n_aligned
         |FROM cnt JOIN best USING (id_a, id_b)
         |WHERE n = n_aligned
         |GROUP BY id_a, id_b, n_aligned
         |ORDER BY id_a, id_b""".stripMargin
    }),

    // OVERLAPPING-window fingerprints (stride = chunk/2): lifts the
    // chunker's boundary-alignment sensitivity — stride-aligned copies
    // fingerprint identically wherever they land
    // overlapping windows: w*stride <= g < w*stride + cs, each window
    // fingerprinted against its OWN mean over its own length (the
    // short sub-stride tail windows included — w ranges to (n-1)//stride)
    "q_audio_fingerprint_windows" -> graded(Multimodal.audioFingerprintWindows _, {
      val cs = graft.operators.Multimodal.AudioChunkSamples
      val st = graft.operators.Multimodal.AudioWindowStride
      val envF = graft.operators.Multimodal.AudioFpFrames
      s"""WITH base AS (SELECT doc_id, (1000 + doc_id % 500) AS n FROM documents),
         |wins AS (SELECT doc_id, n, unnest(generate_series(0, (n-1)//$st)) AS w
         |  FROM base),
         |samples AS (SELECT doc_id, w, len, j, w*$st + j AS g,
         |    abs(((doc_id*13 + (w*$st + j)*17) % 16384 - 8192)
         |        * (1 + (doc_id + ((w*$st + j)*$envF) // n) % 4)) AS a,
         |    (j*$envF) // len AS f
         |  FROM (SELECT doc_id, n, w, least($cs, n - w*$st) AS len,
         |      unnest(generate_series(0, least($cs, n - w*$st) - 1)) AS j
         |    FROM wins)),
         |frames AS (SELECT doc_id, w, len, f, sum(a) AS fs, count(*) AS nf
         |  FROM samples GROUP BY 1, 2, 3, 4),
         |tot AS (SELECT doc_id, w, sum(a) AS total
         |  FROM samples GROUP BY 1, 2)
         |SELECT f.doc_id, CAST(f.w AS BIGINT) AS win,
         |  CAST(f.len AS BIGINT) AS n_samples,
         |  CAST(sum(CASE WHEN fs * len > total * nf
         |    THEN (CAST(1 AS BIGINT) << f) ELSE 0 END) AS BIGINT) AS afp
         |FROM frames f JOIN tot t ON f.doc_id = t.doc_id AND f.w = t.w
         |GROUP BY 1, 2, 3
         |ORDER BY 1, 2""".stripMargin
    }),

    // stub-decoded plumbing (formats with no JVM codec):
    "q_media_features" -> graded(Multimodal.mediaFeatures _,
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |lang AS format,
        |CAST(octet_length(encode(text))*31 + ord(substr(text,1,1)) AS BIGINT) AS feature
        |FROM documents ORDER BY doc_id""".stripMargin),

    "q_media_stats" -> graded(Multimodal.mediaStats _,
      """SELECT lang AS format, count(*) AS n_media,
        |CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
        |CAST(min(octet_length(encode(text))*31 + ord(substr(text,1,1))) AS BIGINT) AS min_feature
        |FROM documents GROUP BY lang ORDER BY format""".stripMargin),

    "q_frame_features" -> graded(Multimodal.frameFeatures(_, _),
      s"""SELECT frame_idx, count(*) AS n_frames, CAST(sum(chunk_bytes) AS BIGINT) AS total_bytes FROM (
        |SELECT doc_id, i AS frame_idx,
        |  least(step, greatest(n_bytes - i*step, 0)) AS chunk_bytes
        |FROM (SELECT doc_id, n_bytes, greatest(n_bytes//${Multimodal.FrameSamples}, 1) AS step
        |      FROM (SELECT doc_id, least(octet_length(encode(text)), 4096) AS n_bytes FROM documents)),
        |  (SELECT unnest(generate_series(0, ${Multimodal.FrameSamples - 1})) AS i)
        |WHERE i < least(${Multimodal.FrameSamples}, n_bytes))
        |GROUP BY frame_idx ORDER BY frame_idx""".stripMargin),

    // — TPC-H-shaped multi-join analytics (join-order/broadcast bench) —
    "q_tpch_q3" -> graded(Relational.tpchQ3 _,
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
        |o_orderpriority, round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
        |FROM customer JOIN orders ON o_custkey=c_custkey
        |JOIN lineitem ON l_orderkey=o_orderkey
        |WHERE c_mktsegment='BUILDING'
        |AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
        |AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin),

    "q_tpch_q5" -> graded(Relational.tpchQ5 _,
      """SELECT n_name, round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey=o_orderkey
        |JOIN customer ON o_custkey=c_custkey
        |JOIN supplier ON l_suppkey=s_suppkey AND c_nationkey=s_nationkey
        |JOIN nation ON s_nationkey=n_nationkey
        |JOIN region ON n_regionkey=r_regionkey
        |WHERE r_name='ASIA'
        |AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin),

    "q_tpch_q6" -> graded(Relational.tpchQ6 _,
      """SELECT round(sum(l_extendedprice*l_discount),2) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin),

    "q_tpch_q10" -> graded(Relational.tpchQ10 _,
      """SELECT c_custkey, c_name, round(c_acctbal,2) AS acctbal, n_name,
        |round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey=o_orderkey
        |JOIN customer ON o_custkey=c_custkey
        |JOIN nation ON c_nationkey=n_nationkey
        |WHERE l_returnflag='R'
        |AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin),

    "q_tpch_q12" -> graded(Relational.tpchQ12 _,
      """SELECT l_linestatus,
        |CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey=o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin),

    "q_tpch_q14" -> graded(Relational.tpchQ14 _,
      """SELECT round(100.0 *
        |  sum(CASE WHEN p_type='PROMO' THEN l_extendedprice*(1-l_discount) ELSE 0.0 END) /
        |  sum(l_extendedprice*(1-l_discount)), 4) AS promo_revenue_pct
        |FROM lineitem JOIN part ON l_partkey=p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
        |AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'""".stripMargin),

    "q_tpch_q19" -> graded(Relational.tpchQ19 _,
      """SELECT round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
        |FROM lineitem JOIN part ON l_partkey=p_partkey
        |WHERE (p_brand='Brand#11' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
        |OR (p_brand='Brand#22' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
        |OR (p_brand='Brand#15' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)""".stripMargin),

    // aggregate-HAVING subquery drives the join (big-order selection
    // broadcast by AQE), top-100 via TakeOrderedAndProject
    "q_tpch_q18" -> graded(Relational.tpchQ18 _,
      """WITH big AS (SELECT l_orderkey, round(sum(l_quantity),2) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey HAVING round(sum(l_quantity),2) > 300)
        |SELECT c_name, c_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |  o_totalprice, total_qty
        |FROM big JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin),

    // scalar-agg-max equality filter (the decorrelated Q15 view)
    "q_tpch_q15" -> graded(Relational.tpchQ15 _,
      """WITH rev AS (SELECT l_suppkey,
        |    round(sum(l_extendedprice*(1-l_discount)),2) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        |ORDER BY s_suppkey""".stripMargin),

    // correlated scalar-AVG subquery (per-part average gates the fact)
    "q_tpch_q17" -> graded(Relational.tpchQ17 _,
      """SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        |FROM lineitem, part
        |WHERE p_partkey = l_partkey AND p_brand = 'Brand#12' AND p_size < 15
        |  AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
        |                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin),

    // nested semi-join chain + correlated availability scalar
    "q_tpch_q20" -> graded(Relational.tpchQ20 _,
      """SELECT s_suppkey, s_name
        |FROM supplier, nation
        |WHERE s_suppkey IN (
        |    SELECT ps.l_suppkey FROM
        |      (SELECT l_partkey, l_suppkey, sum(l_quantity) AS avail
        |       FROM lineitem GROUP BY 1, 2) ps
        |    WHERE ps.l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
        |      AND ps.avail > (SELECT 0.5 * sum(l2.l_quantity) FROM lineitem l2
        |                      WHERE l2.l_partkey = ps.l_partkey
        |                        AND l2.l_suppkey = ps.l_suppkey
        |                        AND l2.l_shipdate >= TIMESTAMP '1997-01-01'
        |                        AND l2.l_shipdate < TIMESTAMP '1998-01-01'))
        |  AND s_nationkey = n_nationkey AND n_name IN ('NATION_3', 'NATION_7')
        |ORDER BY s_suppkey""".stripMargin),

    // multi-EXISTS/NOT-EXISTS lineitem self-joins (semi + anti)
    "q_tpch_q21" -> graded(Relational.tpchQ21 _,
      """SELECT s_name, count(*) AS numwait
        |FROM supplier, lineitem l1, orders, nation
        |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
        |  AND o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 360 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > o_orderdate + INTERVAL 360 DAY)
        |  AND s_nationkey = n_nationkey
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin),

    // — the remaining 9 stock shapes: full TPC-H 22/22 coverage —
    // correlated scalar-MIN over the derived supply relation
    "q_tpch_q2" -> graded(Relational.tpchQ2 _,
      """WITH supply AS (
        |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |         min(l_extendedprice / l_quantity) AS ps_supplycost
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT round(s_acctbal, 2) AS s_acctbal, s_name, n_name, p_partkey, p_name
        |FROM part, supply, supplier, nation, region
        |WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
        |  AND p_size = 15 AND p_type = 'SMALL'
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'EUROPE'
        |  AND ps_supplycost = (
        |    SELECT min(s2.ps_supplycost)
        |    FROM supply s2, supplier sup2, nation n2, region r2
        |    WHERE s2.ps_partkey = p_partkey AND s2.ps_suppkey = sup2.s_suppkey
        |      AND sup2.s_nationkey = n2.n_nationkey
        |      AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE')
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin),

    // EXISTS correlated on key + outer date column (semi join)
    "q_tpch_q4" -> graded(Relational.tpchQ4 _,
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
        |  AND o_orderdate < TIMESTAMP '1996-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),

    // bidirectional two-nation trade (nation dim joined twice)
    "q_tpch_q7" -> graded(Relational.tpchQ7 _,
      """SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue
        |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |             CAST(year(l_shipdate) AS INTEGER) AS l_year,
        |             l_extendedprice * (1 - l_discount) AS volume
        |      FROM lineitem, orders, supplier, customer, nation n1, nation n2
        |      WHERE l_orderkey = o_orderkey AND l_suppkey = s_suppkey
        |        AND o_custkey = c_custkey
        |        AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
        |        AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |        AND l_shipdate >= TIMESTAMP '1996-01-01'
        |        AND l_shipdate < TIMESTAMP '1998-01-01') shipping
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin),

    // 7-relation tree + conditional market-share aggregate
    "q_tpch_q8" -> graded(Relational.tpchQ8 _,
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |       round(sum(CASE WHEN n2.n_name = 'NATION_3'
        |                      THEN l_extendedprice * (1 - l_discount)
        |                      ELSE 0 END), 2) AS nation_volume,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_volume
        |FROM lineitem, part, orders, customer, supplier,
        |     nation n1, nation n2, region
        |WHERE l_partkey = p_partkey AND p_type = 'ECONOMY'
        |  AND l_orderkey = o_orderkey AND o_custkey = c_custkey
        |  AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
        |  AND r_name = 'AMERICA'
        |  AND l_suppkey = s_suppkey AND s_nationkey = n2.n_nationkey
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY o_year
        |ORDER BY o_year""".stripMargin),

    // name-sliced profit by nation/year
    "q_tpch_q9" -> graded(Relational.tpchQ9 _,
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |       sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |             * (100 - CAST(round(l_discount * 100) AS BIGINT))
        |           - 600 * CAST(round(p_retailprice * 10) AS BIGINT)
        |             * CAST(l_quantity AS BIGINT)) / 10000.0 AS sum_profit
        |FROM lineitem, part, orders, supplier, nation
        |WHERE l_partkey = p_partkey AND p_name LIKE '%gear%'
        |  AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
        |  AND s_nationkey = n_nationkey
        |GROUP BY 1, 2
        |ORDER BY nation, o_year DESC""".stripMargin),

    // grouped agg with scalar-subquery HAVING threshold
    "q_tpch_q11" -> graded(Relational.tpchQ11 _,
      """SELECT l_partkey AS ps_partkey, round(sum(l_extendedprice), 2) AS value
        |FROM lineitem, supplier, nation
        |WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        |  AND n_name = 'NATION_5'
        |GROUP BY l_partkey
        |HAVING sum(l_extendedprice) > (
        |  SELECT sum(l_extendedprice) * 0.001
        |  FROM lineitem, supplier, nation
        |  WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        |    AND n_name = 'NATION_5')
        |ORDER BY value DESC, ps_partkey""".stripMargin),

    // outer-join histogram (filter on the join condition)
    "q_tpch_q13" -> graded(Relational.tpchQ13 _,
      """SELECT c_count, count(*) AS custdist
        |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
        |      FROM customer LEFT OUTER JOIN orders
        |        ON c_custkey = o_custkey
        |        AND o_orderpriority <> '4-NOT SPECIFIED'
        |      GROUP BY c_custkey) c_orders
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin),

    // distinct-count groups behind a null-aware NOT IN anti join
    "q_tpch_q16" -> graded(Relational.tpchQ16 _,
      """SELECT p_brand, p_type, p_size, count(DISTINCT ps_suppkey) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
        |      FROM lineitem) supply, part
        |WHERE p_partkey = ps_partkey
        |  AND p_brand <> 'Brand#2' AND p_type NOT LIKE 'PROMO%'
        |  AND p_size IN (5, 11, 17, 23, 29, 35, 41, 47)
        |  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |                         WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin),

    // scalar-AVG threshold + NOT EXISTS anti join finale
    "q_tpch_q22" -> graded(Relational.tpchQ22 _,
      """SELECT cntrycode, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
        |FROM (SELECT c_custkey % 10 AS cntrycode, c_acctbal
        |      FROM customer
        |      WHERE c_custkey % 10 IN (1, 2, 3, 4, 5, 6, 7)
        |        AND c_acctbal > (SELECT avg(c_acctbal) FROM customer
        |                         WHERE c_acctbal > 0.00
        |                           AND c_custkey % 10 IN (1, 2, 3, 4, 5, 6, 7))
        |        AND NOT EXISTS (SELECT 1 FROM orders
        |                        WHERE o_custkey = c_custkey
        |                          AND o_orderdate >= TIMESTAMP '2000-01-01')) custsale
        |GROUP BY cntrycode
        |ORDER BY cntrycode""".stripMargin),

    // SQL LATERAL correlated subquery (Catalyst decorrelates to a join)
    "q_lateral_join" -> graded(Relational.lateralTopNations _,
      """SELECT r_name, n_name, bal
        |FROM region r,
        |LATERAL (SELECT n_name, round(sum(c_acctbal),2) AS bal
        |         FROM nation JOIN customer ON c_nationkey=n_nationkey
        |         WHERE n_regionkey=r.r_regionkey
        |         GROUP BY n_name ORDER BY bal DESC, n_name LIMIT 2) t
        |ORDER BY r_name, bal DESC, n_name""".stripMargin),

    // MERGE-style incremental snapshot upsert (full-outer merge dataflow)
    "q_merge_upsert" -> graded(Relational.mergeUpsert _,
      """WITH cur AS (SELECT o_custkey AS k, count(*) AS n,
        |  round(sum(o_totalprice),2) AS v, strftime(max(o_orderdate),'%Y-%m-%d') AS d
        |  FROM orders WHERE o_orderdate < TIMESTAMP '2001-01-01 00:00:00' GROUP BY o_custkey),
        |inc AS (SELECT o_custkey AS k, count(*) AS n,
        |  round(sum(o_totalprice),2) AS v, strftime(max(o_orderdate),'%Y-%m-%d') AS d
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01 00:00:00' GROUP BY o_custkey)
        |SELECT coalesce(cur.k, inc.k) AS custkey,
        |CASE WHEN cur.k IS NULL THEN 'insert'
        |     WHEN inc.k IS NULL THEN 'keep' ELSE 'update' END AS action,
        |CAST(coalesce(cur.n,0)+coalesce(inc.n,0) AS BIGINT) AS n_orders,
        |round(coalesce(cur.v,0)+coalesce(inc.v,0),2) AS total_value,
        |coalesce(inc.d, cur.d) AS last_order
        |FROM cur FULL OUTER JOIN inc ON cur.k = inc.k
        |ORDER BY custkey""".stripMargin),

    // materialized-view maintenance: monthly pre-agg + batch delta
    // merged by the same full-outer dataflow; == full recompute (spec)
    // the MV delta-apply re-derived: base + delta monthly aggregates,
    // full-outer merge, avg derived from the maintained sum/count
    "q_incremental_agg" -> graded(Relational.incrementalAgg _,
      """WITH base AS (SELECT strftime(o_orderdate, '%Y-%m') AS month, o_orderstatus AS status,
        |    count(*) AS n, round(sum(o_totalprice), 2) AS v
        |  FROM orders WHERE o_orderdate < TIMESTAMP '2001-01-01 00:00:00' GROUP BY 1, 2),
        |delta AS (SELECT strftime(o_orderdate, '%Y-%m') AS month, o_orderstatus AS status,
        |    count(*) AS n, round(sum(o_totalprice), 2) AS v
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01 00:00:00' GROUP BY 1, 2),
        |merged AS (SELECT coalesce(delta.month, base.month) AS month,
        |    coalesce(delta.status, base.status) AS status,
        |    CAST(coalesce(base.n, 0) + coalesce(delta.n, 0) AS BIGINT) AS n_orders,
        |    round(coalesce(base.v, 0) + coalesce(delta.v, 0), 2) AS total_value
        |  FROM base FULL OUTER JOIN delta
        |    ON base.month = delta.month AND base.status = delta.status)
        |SELECT month, status, n_orders, total_value,
        |  round(total_value / n_orders, 6) AS avg_value
        |FROM merged ORDER BY month, status""".stripMargin),

    // degree-oriented triangle counting over the near-dup graph
    "q_triangles" -> graded(Dedup.triangleCounts _,
      s"""WITH e AS ($lshPairsSql),
         |tri AS (SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
         |  FROM e e1 JOIN e e2 ON e2.id_a = e1.id_b
         |  JOIN e e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_triangles
         |FROM (SELECT a AS doc_id FROM tri
         |      UNION ALL SELECT b FROM tri
         |      UNION ALL SELECT c FROM tri)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // asymmetric containment join (sub-document duplication)
    "q_containment" -> graded(Dedup.containmentPairs(_, _),
      s"""WITH ds AS ($shSql),
         |sz AS (SELECT doc_id, count(*) AS sz FROM ds GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
         |  FROM ds a JOIN ds b ON a.sh = b.sh AND a.doc_id <> b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, CAST(n_common AS BIGINT) AS n_common,
         |n_common / sa.sz AS containment
         |FROM inter JOIN sz sa ON sa.doc_id = id_a
         |WHERE n_common / sa.sz >= ${Dedup.ContainmentMin}
         |ORDER BY id_a, id_b""".stripMargin),

    // composite curation cascade (first-failing-rule classification)
    "q_corpus_filter" -> graded(TextAnalysis.corpusFilter _,
      s"SELECT doc_id, n_words, reason FROM ($corpusReasonSql) ORDER BY doc_id"),

    // streaming DISTINCT executed by the real engine in APPEND mode
    "q_stream_distinct" -> graded(graft.streaming.EventStreams.streamedDistinct _,
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin),

    // APPEND-mode closed sessions (flatMapGroupsWithState) under the gate
    // finite-replay emission rules (see EventStreams.streamedSessions):
    // every non-final session per user, plus final sessions whose
    // event-time timeout (last_ts + gap) the terminal watermark
    // (max ts - delay) has passed. Money parity: the state function
    // accumulates integer cents per event with half-away-from-zero
    // rounding (DuckDB round()'s mode — exact for negative half-cents
    // too), so the oracle sums per-event rounded cents — round-of-sum
    // would be a DIFFERENT number, not just a different column name.
    "q_stream_sessions" -> graded(graft.streaming.EventStreams.streamedSessions _,
      s"""WITH flagged AS (SELECT user_id, ts, value,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |       OR ts - lag(ts) OVER w > INTERVAL $SessionGapMinutes MINUTE THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sess AS (SELECT user_id, ts, value,
        |  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged),
        |agg AS (SELECT user_id, max(ts) AS sess_last, count(*) AS n_events,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS total_cents
        |  FROM sess GROUP BY user_id, sid),
        |agg2 AS (SELECT *, max(sess_last) OVER (PARTITION BY user_id) AS user_last FROM agg),
        |wm AS (SELECT max(ts) - INTERVAL $WatermarkDelayMinutes MINUTE AS w FROM events)
        |SELECT user_id, CAST(n_events AS BIGINT) AS n_events, total_cents,
        |  strftime(sess_last, '%Y-%m-%d %H:%M:%S') AS last_ts
        |FROM agg2, wm
        |WHERE sess_last < user_last OR sess_last + INTERVAL $SessionGapMinutes MINUTE < w
        |ORDER BY user_id, last_ts""".stripMargin),

    // the same sessionizer under the replay clock (no timeout, whole
    // history in the single AvailableNow batch): every session closes
    // inline, so the stream shares q_sessions' batch oracle exactly
    // the replay-clock streaming twin closes every session inline, so
    // it reproduces the batch sessionization row-for-row
    "q_stream_sessions_gated" -> graded(graft.streaming.EventStreams.streamedSessionsGated(_, _),
      sessionsSql),

    // per-user running-moments 3σ outlier flags, all-long arithmetic
    // the 3σ detector re-derived over cumulative windows: the
    // division-free test (n·x − Σx)² > 9·(n·Σx² − (Σx)²) is exact
    // long arithmetic on both engines, and the (ts, event_id) order is
    // the same total order the state function sorts each batch by;
    // shared by the stream and its batch backfill twin
    "q_stream_anomaly" -> graded(graft.streaming.EventStreams.streamedAnomaly _, anomalySql),
    // the EWMA smoother as per-key O(K) stream state; finite replay
    // reproduces the batch lag() window exactly → shares its oracle
    // the streaming state twin emits the identical exact rows
    "q_stream_ewma" -> graded(graft.streaming.EventStreams.streamedEwma _, ewmaSql),

    // incremental MinHash ingest: signatures computed as documents
    // arrive; shares the batch signature oracle (bit-identical result)
    // incremental ingest emits each document's final signature exactly
    // once (all of a doc's shingles ride its own row), so the streamed
    // result is bit-identical to the batch signature table
    "q_stream_minhash" -> graded(graft.streaming.DocumentStreams.streamedMinhashSignatures _,
      s"SELECT * FROM ($sigSql) ORDER BY doc_id"),

    // the streaming near-dup DECISION join (band-bucket state store);
    // emissions depend only on the document set, so a finite replay
    // reproduces the batch pair set and shares its full-hash oracle
    // streaming arrivals joined against the accumulated band-bucket
    // store emit exactly the batch pair set (first-shared-band rule
    // dedups across buckets; see DocumentStreams.streamedNearDupPairs)
    "q_stream_neardup" -> graded(graft.streaming.DocumentStreams.streamedNearDupPairs _,
      s"$lshPairsSql ORDER BY id_a, id_b"),

    // the TTL-bounded variant GRADED: deterministic replay clock
    // (ts = base + doc_id s, one micro-batch per 100-id chunk) makes
    // the watermark-relative horizon pure doc_id arithmetic the oracle
    // re-derives — the production memory bound, oracle-graded
    // TTL variant under the deterministic replay clock (ts = base +
    // doc_id s, one micro-batch per TtlChunk-wide id range, watermark
    // delay 0): a member a is still in state when b arrives iff
    // ts(a) >= wm - horizon, and wm while b's chunk processes is the
    // max doc_id of EARLIER chunks (in seconds) — so the horizon is
    // the pure integer predicate below. First chunk: wm = 0 → the
    // coalesce keeps everything, matching the engine's initial
    // watermark.
    "q_stream_neardup_ttl" -> graded(graft.streaming.DocumentStreams.streamedNearDupPairsTtl _, {
      val floor = graft.streaming.DocumentStreams.TtlChunk
      val hSec = graft.streaming.DocumentStreams.TtlHorizonMs / 1000
      s"""WITH cw AS (SELECT greatest($floor, (max(doc_id)+5)//5) AS w FROM documents),
         |pairs AS ($lshPairsSql),
         |chmax AS (SELECT doc_id // (SELECT w FROM cw) AS ch, max(doc_id) AS mx
         |  FROM documents GROUP BY 1),
         |prevm AS (SELECT ch, max(mx) OVER (ORDER BY ch
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevmax
         |  FROM chmax)
         |SELECT id_a, id_b, est_jaccard FROM pairs
         |JOIN prevm ON id_b // (SELECT w FROM cw) = prevm.ch
         |WHERE id_a >= coalesce(prevm.prevmax, id_a) - $hSec
         |ORDER BY id_a, id_b""".stripMargin
    }),

    // stream-stream interval join under the gate (inner-join emission
    // is not watermark-gated, so finite replay = the batch join)
    "q_stream_attribution" -> graded(graft.streaming.EventStreams.streamedAttribution _,
      """SELECT p.event_id AS purchase_id, p.user_id AS user_id,
        |  c.event_id AS click_id,
        |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts, p.value AS value
        |FROM events p JOIN events c
        |  ON p.event_type = 'purchase' AND c.event_type = 'click'
        |  AND c.user_id = p.user_id
        |  AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
        |ORDER BY purchase_id, click_id""".stripMargin),

    // stream-STATIC join under the gate: eval docs stream against the
    // static train vocabulary (stateless join + Complete-mode per-doc
    // agg, so finite replay = the batch decontamination scan)
    // the stream-static twin emits exactly the batch scan's rows
    // (stateless join, Complete-mode agg) — same oracle proves it
    "q_stream_decontamination" -> graded(graft.streaming.DocumentStreams.streamedDecontamination _,
      decontaminationSql),

    // deployed-tokenizer stream: rules trained batch-side, applied as a
    // stateless per-doc projection (no state, no shuffle); shares
    // q_bpe_tokenize's oracle
    // stateless streaming application of the same trained rules —
    // identical per-doc counts, same oracle
    "q_stream_bpe_tokenize" -> graded(graft.streaming.DocumentStreams.streamedBpeTokenize _,
      bpeTokenizeSql),

    // deployed-decoder stream: REAL ImageIO decode + perceptual hash as
    // a stateless streaming projection; shares q_image_ahash's oracle
    // stateless streaming application of the same decode+hash — same
    // per-doc rows, same oracle
    "q_stream_image_ahash" -> graded(graft.streaming.DocumentStreams.streamedImageAhash _,
      imageAhashSql),

    // stateless streaming acoustic fingerprint (shares the batch
    // entry's oracle — replay == batch, real RIFF parse on the stream)
    // finite replay == batch: the streaming twin shares the oracle
    "q_stream_audio_fingerprint" -> graded(
      graft.streaming.DocumentStreams.streamedAudioFingerprint _,
      s"""WITH $audioFpCteSql
         |SELECT doc_id, n_samples, afp FROM afv
         |ORDER BY doc_id""".stripMargin),

    // the WIDE bandable key at arrival time (shares the wide batch
    // oracle — what a streaming near-dup index would actually ingest)
    // finite replay == batch: the wide streaming twin shares the oracle
    "q_stream_audio_fingerprint_wide" -> graded(
      graft.streaming.DocumentStreams.streamedAudioFingerprintWide _,
      s"""WITH $audioFpWideCteSql
         |SELECT doc_id, n_samples, afp_hi, afp_lo FROM afw
         |ORDER BY doc_id""".stripMargin),

    // the SERVING shape of the delta media family: new images stream
    // in, probe the STORED band index (stream-static join, zero state,
    // micro-batch-invariant), near-dups vs the corpus emitted on
    // arrival; oracle = the full pair list cut to new-vs-existing
    // the streaming serving twin probes the STORED side only, so its
    // contract is the new-vs-existing cut (never new_new — arrivals
    // pair with the frozen corpus, not each other)
    "q_stream_image_neardup_delta" -> graded(
      graft.streaming.DocumentStreams.streamedDeltaImageNeardup _,
      s"""WITH pairs AS (SELECT * FROM ($imageNeardupSql))
         |SELECT id_a, id_b, dist FROM pairs
         |WHERE (id_a % 10 >= 8) <> (id_b % 10 >= 8)
         |ORDER BY id_a, id_b""".stripMargin),

    // the acoustic serving twin: same stream-static band-probe engine
    // on the wide fingerprint computed at arrival time
    // the acoustic serving twin's contract is the same cut on the
    // audio pair list
    "q_stream_audio_neardup_delta" -> graded(
      graft.streaming.DocumentStreams.streamedDeltaAudioNeardup _,
      s"""WITH pairs AS (SELECT * FROM ($audioNeardupSql))
         |SELECT id_a, id_b, dist FROM pairs
         |WHERE (id_a % 10 >= 8) <> (id_b % 10 >= 8)
         |ORDER BY id_a, id_b""".stripMargin),

    // MERGE landed on storage: partitioned overwrite + pruned read-back
    "q_merge_roundtrip" -> graded(graft.sources.Sinks.mergeRoundTrip _,
      """WITH cur AS (SELECT o_custkey AS k, count(*) AS n,
        |  round(sum(o_totalprice),2) AS v, strftime(max(o_orderdate),'%Y-%m-%d') AS d
        |  FROM orders WHERE o_orderdate < TIMESTAMP '2001-01-01 00:00:00' GROUP BY o_custkey),
        |inc AS (SELECT o_custkey AS k, count(*) AS n,
        |  round(sum(o_totalprice),2) AS v, strftime(max(o_orderdate),'%Y-%m-%d') AS d
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01 00:00:00' GROUP BY o_custkey)
        |SELECT cur.k AS custkey,
        |CAST(cur.n + inc.n AS BIGINT) AS n_orders,
        |round(cur.v + inc.v, 2) AS total_value,
        |inc.d AS last_order
        |FROM cur JOIN inc ON cur.k = inc.k
        |ORDER BY custkey""".stripMargin),
  )
}
