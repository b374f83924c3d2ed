package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.{BpeTokenizer, ImportanceSampling, NearDup, TextAnalysis, TrainingData}
import graft.operators.TextAnalysis._

/** The composite training-data pipeline — what the whole engine exists
  * for, as one oracle-gated query: quality-gate the corpus, keep the
  * target language, drop near-duplicates (greedy keep-first), and report
  * the surviving token budget. Every stage is an operator proven green on
  * its own; this row proves they compose. */
object PipelineQueries {

  private val QualityMin = 0.68

  /** DuckDB twin of NearDup.hashedShingles(text, 4) per (doc, source) —
    * ONE SQL home for the 4-gram hash contract, shared by the
    * decontamination gate and the clean-training-set composition (a
    * drifted copy would silently split the two oracles). */
  private val hashedGram4Sets: String = {
    val gram4 = "t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]"
    s"""SELECT doc_id, source,
       |    list_distinct(list_transform(
       |      list_distinct(CASE WHEN len(t) >= 4
       |        THEN list_transform(range(1, len(t) - 2), i -> $gram4)
       |        ELSE []::VARCHAR[] END),
       |      s -> ${DedupQueries.hashSql(0, "s")})) AS hsh
       |  FROM (SELECT doc_id, source, ${TextQueries.tokSql} AS t FROM documents)""".stripMargin
  }

  /** Quality + language scoring CTE and the totals tail, shared by both
    * training-set rows; expects a `keep(doc_id, text, n_chars, t)`
    * relation in scope. */
  private val scoredTotalsSql: String = {
    def score(words: Seq[String]) =
      s"len(list_filter(t, x -> x IN (${words.map(w => s"'$w'").mkString(", ")})))"
    val scores = LangProfiles.map { case (lang, words) => lang -> score(words) }
    val whens = scores.zipWithIndex.init.map { case ((lang, sc), i) =>
      val later = scores.drop(i + 1).map(o => s"$sc >= ${o._2}").mkString(" AND ")
      s"WHEN $later THEN '$lang'"
    }.mkString(" ")
    s"""scored AS (
       |  SELECT doc_id, text, n_chars,
       |    ${TextQueries.qualitySqlOf("t")} AS quality,
       |    CASE $whens ELSE '${LangProfiles.last._1}' END AS lang
       |  FROM keep)
       |SELECT count(*) AS n_docs,
       |  sum(ceil(len(trim(text))::DOUBLE / 4.0)::BIGINT)::BIGINT AS total_tokens_est,
       |  sum(n_chars)::BIGINT AS total_chars
       |FROM scored WHERE quality >= $QualityMin AND lang = 'en'""".stripMargin
  }

  private val trainingSet: QueryFn = (s, dir) => {
    val docs = table(s, dir, "documents")
    val t = tokens(col("text"))
    val losers = NearDup.nearDupPairs(docs, col("doc_id"), col("text"),
      n = 3, numHashes = 16, rowsPerBand = 2, threshold = 0.5)
      .select(col("id_b"))
    docs
      .where(qualityScore(t) >= QualityMin)
      .where(predictedLang(t) === "en")
      .join(losers, docs("doc_id") === col("id_b"), "left_anti")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(ceil(length(trim(col("text"))).cast("double") / 4.0).cast("long"))
          .as("total_tokens_est"),
        sum(col("n_chars")).as("total_chars"))
  }

  private val trainingSetSql: String =
    s"""WITH ${DedupQueries.jaccardPairs},
       |keep AS (
       |  SELECT doc_id, text, n_chars,
       |    ${TextQueries.tokSql} AS t
       |  FROM documents
       |  WHERE doc_id NOT IN (SELECT doc_b FROM p WHERE j >= 0.5)),
       |$scoredTotalsSql""".stripMargin

  /** Benchmark decontamination: treat source 'src0' as the held-out eval
    * set and report, for every OTHER document, the number of distinct
    * 4-grams it shares with any eval document (the pre-training
    * decontamination pass; 4 — not the 8+ a real-text pipeline would use
    * — because this corpus's ~30-word vocabulary makes longer grams
    * vanishingly rare: at sf0.01, n=5 flags 2 docs, n=4 flags 49, a gate
    * actually exercising the join). The oracle re-derives the same md5
    * shingle hashes and replays the overlap in SQL. */
  private val decontaminate: QueryFn = (s, dir) => {
    val docs = table(s, dir, "documents")
    TrainingData.contaminationHits(
        docs.where(col("source") =!= "src0"), col("doc_id"), col("text"),
        docs.where(col("source") === "src0"), col("text"), n = 4)
      .select(col("id").as("doc_id"), col("n_hits"))
      .orderBy(col("doc_id"))
  }

  private val decontaminateSql: String =
    s"""WITH g AS ($hashedGram4Sets),
       |b AS (SELECT DISTINCT unnest(hsh) AS h FROM g WHERE source = 'src0'),
       |c AS (SELECT doc_id, unnest(hsh) AS h FROM g WHERE source <> 'src0')
       |SELECT c.doc_id, count(*) AS n_hits
       |FROM c JOIN b USING (h) GROUP BY 1 ORDER BY 1""".stripMargin

  /** Concat-and-chunk sequence packing at a 64-token budget over the
    * whitespace token counts, documents concatenated in doc_id order.
    * The oracle is ONE global window cumsum (fine for DuckDB's single
    * node); the engine under test computes the identical offsets with
    * the sharded two-phase prefix sum — the gate proves the distributed
    * decomposition is exact. */
  private val packSequences: QueryFn = (s, dir) =>
    TrainingData.packAssignments(table(s, dir, "documents"),
        col("doc_id"), size(tokens(col("text"))), budget = 64L, shards = 8)
      .select(col("id").as("doc_id"), col("n_tokens"),
        col("offset").as("tok_offset"), col("seq_first"), col("seq_pos"),
        col("seq_last"))
      .orderBy(col("doc_id"))

  private val packSequencesSql: String =
    s"""WITH n AS (
       |  SELECT doc_id, len(${TextQueries.tokSql})::BIGINT AS n_tokens
       |  FROM documents),
       |o AS (
       |  SELECT doc_id, n_tokens,
       |    coalesce(SUM(n_tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
       |      AS tok_offset
       |  FROM n)
       |SELECT doc_id, n_tokens, tok_offset,
       |  tok_offset // 64 AS seq_first,
       |  tok_offset % 64 AS seq_pos,
       |  (tok_offset + greatest(n_tokens, 1) - 1) // 64 AS seq_last
       |FROM o ORDER BY doc_id""".stripMargin

  // ---------------- BPE tokenizer oracles ----------------
  //
  // The SQL below replays the ENTIRE BpeTokenizer contract in DuckDB —
  // training included: each merge iteration is a chained CTE triple
  // (pair counts over the wrapped-token strings, the argmax pick, the
  // string-replace application), so a drifted tie-break, a wrong
  // replace order, or a miscounted overlapping pair all hash-mismatch.
  // Tokens travel as sentinel-wrapped strings chr(2)||tok||chr(3); a
  // merge of (a,b) is replace(s, w(a)||w(b), w(a||b)) — exactly the
  // left-to-right non-overlapping semantics BpeTokenizer.mergeOnce
  // implements on token arrays. MATERIALIZED is load-bearing: default
  // CTE inlining re-expands w{k-1} three times per iteration (3^M
  // blow-up); materialization makes the chain linear.

  private val BpeV = BpeTokenizer.DefaultVocabTop
  private val BpeM = BpeTokenizer.DefaultMerges

  /** chr(2)-wrapped token string of a `term` column. */
  private val bpeWrap: String =
    "list_aggregate([chr(2)||c||chr(3) for c in string_split(term, '')], " +
      "'string_agg', '')"

  /** Training CTEs: toks/wc/w0 plus (p{k}, m{k}, w{k}) per iteration. */
  private val bpeTrainCtes: String = {
    val head =
      s"""toks AS MATERIALIZED (
         |  SELECT doc_id AS id, unnest(${TextQueries.tokSql}) AS term
         |  FROM documents),
         |wc AS MATERIALIZED (
         |  SELECT term, count(*)::BIGINT AS cnt FROM toks
         |  WHERE regexp_matches(term, '^[!-~]+${"$"}') GROUP BY term),
         |w0 AS MATERIALIZED (
         |  SELECT term, cnt, $bpeWrap AS s
         |  FROM (SELECT term, cnt FROM wc ORDER BY cnt DESC, term LIMIT $BpeV))""".stripMargin
    val iters = (1 to BpeM).map { k =>
      s"""p$k AS MATERIALIZED (
         |  SELECT l[i] AS a, l[i+1] AS b, sum(cnt)::BIGINT AS w
         |  FROM (SELECT cnt, string_split(s[2:len(s)-1], chr(3)||chr(2)) AS l
         |        FROM w${k - 1}),
         |       unnest(range(1, len(l))) AS t(i)
         |  GROUP BY a, b),
         |m$k AS MATERIALIZED (
         |  SELECT a, b FROM p$k WHERE w >= 2 ORDER BY w DESC, a, b LIMIT 1),
         |w$k AS MATERIALIZED (
         |  SELECT term, cnt,
         |    replace(s,
         |      coalesce((SELECT chr(2)||a||chr(3)||chr(2)||b||chr(3) FROM m$k), chr(1)),
         |      coalesce((SELECT chr(2)||a||b||chr(3) FROM m$k), chr(1))) AS s
         |  FROM w${k - 1})""".stripMargin
    }
    (head +: iters).mkString(",\n")
  }

  /** Application CTEs over every distinct corpus term, ending in
    * bpe(id, n_tokens, n_bpe_tokens). */
  private val bpeApplyCtes: String = {
    val a0 =
      s"""a0 AS MATERIALIZED (
         |  SELECT term,
         |    CASE WHEN regexp_matches(term, '^[!-~]+${"$"}') THEN $bpeWrap END AS s
         |  FROM (SELECT DISTINCT term FROM toks))""".stripMargin
    val iters = (1 to BpeM).map { k =>
      s"""a$k AS MATERIALIZED (
         |  SELECT term,
         |    replace(s,
         |      coalesce((SELECT chr(2)||a||chr(3)||chr(2)||b||chr(3) FROM m$k), chr(1)),
         |      coalesce((SELECT chr(2)||a||b||chr(3) FROM m$k), chr(1))) AS s
         |  FROM a${k - 1})""".stripMargin
    }
    val tail =
      s"""termbpe AS (
         |  SELECT term,
         |    CASE WHEN s IS NULL THEN length(term)
         |         ELSE length(s) - length(replace(s, chr(2), '')) END::BIGINT AS nbpe
         |  FROM a$BpeM),
         |perdoc AS (SELECT id, term, count(*)::BIGINT AS c FROM toks GROUP BY id, term),
         |bpe AS (
         |  SELECT id, sum(c)::BIGINT AS n_tokens,
         |    sum(c * nbpe)::BIGINT AS n_bpe_tokens
         |  FROM perdoc JOIN termbpe USING (term) GROUP BY id)""".stripMargin
    (a0 +: iters :+ tail).mkString(",\n")
  }

  // The trained merge list is an ingest-time artifact (like the IVF
  // centroid fixture): trained once per sf dir in [[Artifacts]] instead of
  // once per invocation across the four BPE rows x the bench's passes.
  private def bpeMergesFor(s: org.apache.spark.sql.SparkSession,
                           dir: String): Seq[BpeTokenizer.Merge] =
    Artifacts.memo(s, dir, "bpe-merges")(_ =>
      BpeTokenizer.trainMerges(table(s, dir, "documents"), col("text")))

  /** The learned merge table itself — gates TRAINING: pair counting over
    * the top-V vocabulary, the (weight DESC, lhs, rhs) argmax, the
    * replace-application between iterations, and the min-count-2 early
    * stop all replayed blind by the SQL. */
  private val bpeMerges: QueryFn = (s, dir) =>
    s.createDataFrame(bpeMergesFor(s, dir)).orderBy(col("rank"))

  private val bpeMergesSql: String = {
    val union = (1 to BpeM)
      .map(k => s"SELECT $k::INT AS rank, a AS lhs, b AS rhs FROM m$k")
      .mkString("\nUNION ALL\n")
    s"WITH $bpeTrainCtes\nSELECT * FROM (\n$union\n) ORDER BY rank"
  }

  /** Per-document subword budgets — gates APPLICATION over the FULL
    * vocabulary (including words outside the training top-V, which
    * still merge, and non-trainable words, which count code points). */
  private val bpeTokens: QueryFn = (s, dir) => {
    val docs = table(s, dir, "documents")
    val merges = bpeMergesFor(s, dir)
    BpeTokenizer.tokenCounts(docs, col("doc_id"), col("text"), merges)
      .orderBy(col("id"))
  }

  private val bpeTokensSql: String =
    s"WITH $bpeTrainCtes,\n$bpeApplyCtes\n" +
      "SELECT id, n_tokens, n_bpe_tokens FROM bpe ORDER BY id"

  /** Sequence packing over BPE counts — the two-phase distributed
    * prefix sum budgeting SUBWORD tokens (what a real pretraining batch
    * layout cuts on), vs the single-global-window oracle. */
  private val packBpe: QueryFn = (s, dir) => {
    val docs = table(s, dir, "documents")
    val merges = bpeMergesFor(s, dir)
    val counts = BpeTokenizer.tokenCounts(docs, col("doc_id"), col("text"),
      merges)
    TrainingData.packAssignments(counts, col("id"), col("n_bpe_tokens"),
        budget = 256L, shards = 8)
      .select(col("id"), col("n_tokens").as("n_bpe_tokens"),
        col("offset").as("tok_offset"), col("seq_first"), col("seq_pos"),
        col("seq_last"))
      .orderBy(col("id"))
  }

  private val packBpeSql: String =
    s"""WITH $bpeTrainCtes,
       |$bpeApplyCtes,
       |o AS (
       |  SELECT id, n_bpe_tokens,
       |    coalesce(SUM(n_bpe_tokens) OVER (ORDER BY id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
       |      AS tok_offset
       |  FROM bpe)
       |SELECT id, n_bpe_tokens, tok_offset,
       |  tok_offset // 256 AS seq_first,
       |  tok_offset % 256 AS seq_pos,
       |  (tok_offset + greatest(n_bpe_tokens, 1) - 1) // 256 AS seq_last
       |FROM o ORDER BY id""".stripMargin

  /** Packed sequence PAYLOADS over whitespace tokens: the materialized
    * training sequences themselves — the corpus concatenated in doc_id
    * order and cut every 64 tokens, one row per sequence with its token
    * stream. Gated by content: md5 over the space-joined tokens, so a
    * single out-of-order, dropped, or boundary-misplaced token anywhere
    * in the stream flips a sequence hash. The engine assembles with the
    * two-phase prefix sum + a seq-keyed shuffle; the oracle replays
    * with one global window and ordered aggregation. */
  private val packPayloads: QueryFn = (s, dir) =>
    TrainingData.packedTokenSequences(table(s, dir, "documents"),
        col("doc_id"), tokens(col("text")), budget = 64L, shards = 8)
      .select(col("seq"), col("n_tokens"),
        md5(concat_ws(" ", col("tokens"))).as("tokens_md5"))
      .orderBy(col("seq"))

  private val packPayloadsSql: String =
    s"""WITH n AS (
       |  SELECT doc_id, ${TextQueries.tokSql} AS t FROM documents),
       |o AS (
       |  SELECT doc_id, t,
       |    coalesce(SUM(len(t)) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
       |      AS tok_offset
       |  FROM n),
       |e AS (
       |  SELECT (tok_offset + i - 1) // 64 AS seq,
       |         (tok_offset + i - 1) % 64 AS spos, t[i] AS tk
       |  FROM o, unnest(range(1, len(t) + 1)) AS u(i))
       |SELECT seq, count(*)::BIGINT AS n_tokens,
       |  md5(string_agg(tk, ' ' ORDER BY spos)) AS tokens_md5
       |FROM e GROUP BY seq ORDER BY seq""".stripMargin

  /** The same payloads over BPE SUBWORD tokens — the full real
    * pipeline: train merges on the corpus, tokenize every document
    * (out-of-vocab words still merge; non-ASCII words split to code
    * points), pack the subword stream. The oracle replays training, the
    * per-term token lists (splitting the sentinel-wrapped strings back
    * into tokens), per-document reassembly in word order, the offset
    * window, and the sequence cut — entirely blind. */
  private val packPayloadsBpe: QueryFn = (s, dir) => {
    val docs = table(s, dir, "documents")
    val merges = bpeMergesFor(s, dir)
    val encoded = BpeTokenizer.encodedTokens(docs, col("doc_id"),
      col("text"), merges)
    TrainingData.packedTokenSequences(encoded, col("id"), col("toks"),
        budget = 64L, shards = 8)
      .select(col("seq"), col("n_tokens"),
        md5(concat_ws(" ", col("tokens"))).as("tokens_md5"))
      .orderBy(col("seq"))
  }

  private val packPayloadsBpeSql: String =
    s"""WITH $bpeTrainCtes,
       |$bpeApplyCtes,
       |termtoks AS (
       |  SELECT term,
       |    CASE WHEN s IS NULL THEN string_split(term, '')
       |         ELSE string_split(s[2:len(s)-1], chr(3)||chr(2)) END AS tl
       |  FROM a$BpeM),
       |words AS (
       |  SELECT id, i AS pos, t[i] AS term
       |  FROM (SELECT doc_id AS id, ${TextQueries.tokSql} AS t FROM documents),
       |       unnest(range(1, len(t) + 1)) AS u(i)),
       |dt AS (
       |  SELECT id, flatten(list(tl ORDER BY pos)) AS dtoks
       |  FROM words JOIN termtoks USING (term) GROUP BY id),
       |od AS (
       |  SELECT id, dtoks,
       |    coalesce(SUM(len(dtoks)) OVER (ORDER BY id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
       |      AS tok_offset
       |  FROM dt),
       |ex AS (
       |  SELECT (tok_offset + i - 1) // 64 AS seq,
       |         (tok_offset + i - 1) % 64 AS spos, dtoks[i] AS tk
       |  FROM od, unnest(range(1, len(dtoks) + 1)) AS u(i))
       |SELECT seq, count(*)::BIGINT AS n_tokens,
       |  md5(string_agg(tk, ' ' ORDER BY spos)) AS tokens_md5
       |FROM ex GROUP BY seq ORDER BY seq""".stripMargin

  /** The training-shard SINK, gated end-to-end: pack the corpus at a
    * 64-token budget, explode the packed stream into per-(sequence,
    * document) slice rows, WRITE them as fixed-size parquet shards
    * (8 sequences per shard, shard = seq DIV 8), then aggregate the
    * manifest from the files the sink actually wrote. The oracle
    * recomputes offsets with one global window, replays the
    * slice/shard arithmetic in SQL, and aggregates the same manifest —
    * so a mis-sliced boundary token, a doc dropped in the write, or a
    * wrong shard assignment all hash-mismatch against bytes that went
    * through a real parquet roundtrip.
    *
    * One sink per sf dir in [[Artifacts]], like the dedup sink. */
  private def shardSinkManifest(s: org.apache.spark.sql.SparkSession, dir: String,
                                name: String)(build: String => Unit)
      : org.apache.spark.sql.DataFrame = {
    val sink = Artifacts.memo(s, dir, name) { root =>
      val path = root + "/shards"
      build(path)
      path
    }
    s.read.parquet(s"$sink/_graft_manifest").orderBy(col("shard"))
  }

  private val writeShards: QueryFn = (s, dir) =>
    shardSinkManifest(s, dir, "shard-sink") { path =>
      val packed = TrainingData.packAssignments(table(s, dir, "documents"),
        col("doc_id"), size(tokens(col("text"))), budget = 64L, shards = 8)
      TrainingData.writeShards(
        TrainingData.sequenceRows(packed, budget = 64L), path,
        seqsPerShard = 8)
      ()
    }

  private val writeShardsSql: String =
    s"""WITH n AS (
       |  SELECT doc_id, len(${TextQueries.tokSql})::BIGINT AS n_tokens
       |  FROM documents),
       |o AS (
       |  SELECT doc_id, n_tokens,
       |    coalesce(SUM(n_tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
       |      AS tok_offset
       |  FROM n),
       |r AS (
       |  SELECT doc_id, tok_offset, n_tokens,
       |    unnest(range(tok_offset // 64,
       |                 (tok_offset + n_tokens - 1) // 64 + 1)) AS seq
       |  FROM o WHERE n_tokens > 0),
       |sl AS (
       |  SELECT seq // 8 AS shard, seq,
       |    least(tok_offset + n_tokens, (seq + 1) * 64)
       |      - greatest(tok_offset, seq * 64) AS slice_len
       |  FROM r)
       |SELECT shard, count(*) AS n_rows, count(DISTINCT seq) AS n_seqs,
       |  sum(slice_len)::BIGINT AS n_tokens
       |FROM sl GROUP BY shard ORDER BY shard""".stripMargin

  /** Repeated-span REMOVAL (the mutating twin of the boilerplate
    * score): tokens covered by any 4-gram occurring in >= 3 distinct
    * documents vanish and the survivors reassemble — gated by CONTENT
    * (md5 of the cleaned token stream per document), so a mis-covered
    * position, an off-by-one window edge, or a dropped surviving token
    * flips a hash. At sf0.01 this removes 532 of 27165 tokens and
    * fully empties one boilerplate document (n_kept = 0 — kept as an
    * empty husk, the caller's call to drop). */
  private val removeSpans: QueryFn = (s, dir) =>
    TrainingData.removeRepeatedSpans(table(s, dir, "documents"),
        col("doc_id"), col("text"), n = 4, minDocFreq = 3)
      .select(col("id").as("doc_id"), col("n_kept"), col("n_removed"),
        md5(col("clean_text")).as("clean_md5"))
      .orderBy(col("doc_id"))

  private val removeSpansSql: String = {
    val gram = (0 until 4).map(j => s"t[i+$j]").mkString(" || ' ' || ")
    s"""WITH d AS (
       |  SELECT doc_id, ${TextQueries.tokSql} AS t FROM documents),
       |occ AS (
       |  SELECT doc_id, i - 1 AS s, ${DedupQueries.hashSql(0, "g")} AS h
       |  FROM (SELECT doc_id, t, $gram AS g, i
       |        FROM d, unnest(range(1, len(t) - 2)) AS u(i))),
       |common AS (
       |  SELECT h FROM (SELECT DISTINCT doc_id, h FROM occ)
       |  GROUP BY h HAVING count(*) >= 3),
       |cov AS (
       |  SELECT doc_id, list(DISTINCT s) AS st
       |  FROM occ JOIN common USING (h) GROUP BY doc_id),
       |res AS (
       |  SELECT d.doc_id, d.t, coalesce(cov.st, []::BIGINT[]) AS st
       |  FROM d LEFT JOIN cov USING (doc_id)),
       |kept AS (
       |  SELECT doc_id, len(t)::BIGINT AS n_total,
       |    [t[p] FOR p IN range(1, len(t) + 1)
       |       IF len(list_filter(st, s -> s <= p - 1 AND p - 1 < s + 4)) = 0]
       |      AS k
       |  FROM res)
       |SELECT doc_id, len(k)::BIGINT AS n_kept,
       |  (n_total - len(k))::BIGINT AS n_removed,
       |  md5(coalesce(array_to_string(k, ' '), '')) AS clean_md5
       |FROM kept ORDER BY doc_id""".stripMargin
  }

  /** Deterministic md5-bucket train/val/test assignment (90/5/5): the
    * split is a pure function of doc_id, so any engine — here DuckDB —
    * reproduces membership row-by-row with no stored assignment. */
  private val splitAssign: QueryFn = (s, dir) =>
    table(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        TrainingData.assignSplit(col("doc_id"), trainPct = 90, valPct = 5)
          .as("split"))
      .orderBy(col("doc_id"))

  private val splitAssignSql: String =
    """SELECT doc_id, lang,
      |  CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM (SELECT doc_id, lang,
      |        ('0x' || substr(md5('split:' || doc_id::VARCHAR), 1, 8))::BIGINT
      |          % 100 AS b
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** LEAKAGE-SAFE split: near-duplicate documents must not straddle
    * train/test — Lee et al. 2022 measure exactly this contamination in
    * deployed corpora (near-dup twins of test documents sitting in
    * train). The per-document md5 split above cannot prevent it (twins
    * hash independently), so this variant splits by the near-dup
    * CLUSTER: connected components over the confirmed near-dup edges,
    * then the SAME md5 bucket rule keyed on the component's canonical
    * id — every member of a cluster lands in the same split by
    * construction, and isolated documents (their own component) reduce
    * to the plain split. The oracle replays edges, the transitive
    * closure, and the bucket CASE end-to-end.
    *
    * Scale shape: the components pass is the already-gated O(log n)
    * hash-min (bounded rounds, released checkpoint generations); the
    * split itself stays a pure projection — no new shuffle beyond the
    * CC pass a dedup freeze runs anyway. */
  private val splitLeakageSafe: QueryFn = (s, dir) => {
    val docs = table(s, dir, "documents")
    val pairs = NearDup.nearDupEdges(docs, col("doc_id"), col("text"),
      n = 3, numHashes = 16, rowsPerBand = 2, threshold = 0.5)
    val comp = graft.operators.ConnectedComponents.components(
      pairs.select(col("id_a"), col("id_b")), "id_a", "id_b")
    docs.select(col("doc_id"))
      .join(comp, docs("doc_id") === comp("node"), "left")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("component"))
      .select(col("doc_id"), col("component"),
        TrainingData.assignSplit(col("component"), trainPct = 90, valPct = 5)
          .as("split"))
      .orderBy(col("doc_id"))
  }

  private val splitLeakageSafeSql: String =
    s"""WITH RECURSIVE ${DedupQueries.jaccardPairs},
       |${DedupQueries.closureCtes},
       |comp AS (SELECT node AS doc_id, min(comp) AS component FROM r
       |         GROUP BY node)
       |SELECT doc_id, component,
       |  CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM (SELECT doc_id, component,
       |        ('0x' || substr(md5('split:' || component::VARCHAR), 1, 8))::BIGINT
       |          % 100 AS b
       |      FROM comp)
       |ORDER BY doc_id""".stripMargin

  /** Domain-mixture rebalancing to en 0.4 / de 0.2 / es 0.2 / zh 0.2 —
    * fr is deliberately untargeted (dropped) and de is the binding group
    * (rate 1.0 path). The oracle recomputes the cap, the per-group
    * rates, and the md5-bucket keep rule in SQL. */
  private val mixtureSample: QueryFn = (s, dir) =>
    TrainingData.mixtureSample(table(s, dir, "documents"),
        col("doc_id"), col("lang"),
        Map("en" -> 0.4, "de" -> 0.2, "es" -> 0.2, "zh" -> 0.2))
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  private val mixtureSampleSql: String =
    """WITH tgt(lang, target) AS (VALUES
      |    ('en', 0.4::DOUBLE), ('de', 0.2::DOUBLE),
      |    ('es', 0.2::DOUBLE), ('zh', 0.2::DOUBLE)),
      |cnt AS (SELECT lang, count(*)::DOUBLE AS n FROM documents GROUP BY 1),
      |cap AS (SELECT min(n / target) AS cap FROM cnt JOIN tgt USING (lang)),
      |rates AS (SELECT lang, least(1.0::DOUBLE, target * cap / n) AS rate
      |          FROM cnt JOIN tgt USING (lang), cap)
      |SELECT d.doc_id, d.lang
      |FROM documents d JOIN rates r USING (lang)
      |WHERE ('0x' || substr(md5('mix:' || d.doc_id::VARCHAR), 1, 8))::BIGINT
      |        % 1000000
      |      < floor(r.rate * 1000000)
      |ORDER BY doc_id""".stripMargin

  /** The LEAKAGE AUDIT the safe split exists for: over every confirmed
    * near-dup pair, count how many straddle train/val/test under the
    * plain per-doc split (real contamination — Lee et al. 2022's
    * measured failure) versus under the cluster-keyed split (zero BY
    * CONSTRUCTION, and this row proves the construction end-to-end
    * rather than asserting it). One output row: pairs, plain-split
    * straddles (> 0 on this corpus), safe-split straddles (must be 0).
    * The oracle replays edges all-pairs, the closure, and both split
    * rules. */
  private val splitLeakageAudit: QueryFn = (s, dir) => {
    val docs = table(s, dir, "documents")
    val pairs = NearDup.nearDupPairs(docs, col("doc_id"), col("text"),
        n = 3, numHashes = 16, rowsPerBand = 2, threshold = 0.5)
      .select(col("id_a"), col("id_b"))
    val comp = graft.operators.ConnectedComponents.components(
      NearDup.nearDupEdges(docs, col("doc_id"), col("text"),
        n = 3, numHashes = 16, rowsPerBand = 2, threshold = 0.5)
        .select(col("id_a"), col("id_b")), "id_a", "id_b")
    val both = pairs
      .join(comp.select(col("node").as("__na"), col("comp").as("__ca")),
        col("id_a") === col("__na"), "left")
      .join(comp.select(col("node").as("__nb"), col("comp").as("__cb")),
        col("id_b") === col("__nb"), "left")
      .select(col("id_a"), col("id_b"),
        TrainingData.assignSplit(col("id_a")).as("__pa"),
        TrainingData.assignSplit(col("id_b")).as("__pb"),
        TrainingData.assignSplit(coalesce(col("__ca"), col("id_a")))
          .as("__sa"),
        TrainingData.assignSplit(coalesce(col("__cb"), col("id_b")))
          .as("__sb"))
    both.agg(
      count(lit(1)).as("n_near_dup_pairs"),
      sum(when(col("__pa") =!= col("__pb"), 1L).otherwise(0L))
        .as("n_straddle_plain"),
      sum(when(col("__sa") =!= col("__sb"), 1L).otherwise(0L))
        .as("n_straddle_safe"))
  }

  private val splitLeakageAuditSql: String = {
    def splitOf(e: String) =
      s"""CASE WHEN ('0x' || substr(md5('split:' || ($e)::VARCHAR), 1, 8))::BIGINT % 100 < 90
         | THEN 'train'
         | WHEN ('0x' || substr(md5('split:' || ($e)::VARCHAR), 1, 8))::BIGINT % 100 < 95
         | THEN 'val' ELSE 'test' END""".stripMargin
    s"""WITH RECURSIVE ${DedupQueries.jaccardPairs},
       |${DedupQueries.closureCtes},
       |comp AS (SELECT node, min(comp) AS component FROM r GROUP BY node),
       |e2 AS (SELECT p.doc_a AS id_a, p.doc_b AS id_b,
       |         ca.component AS comp_a, cb.component AS comp_b
       |       FROM p
       |       JOIN comp ca ON ca.node = p.doc_a
       |       JOIN comp cb ON cb.node = p.doc_b
       |       WHERE p.j >= 0.5)
       |SELECT count(*)::BIGINT AS n_near_dup_pairs,
       |  sum(CASE WHEN (${splitOf("id_a")}) <> (${splitOf("id_b")})
       |      THEN 1 ELSE 0 END)::BIGINT AS n_straddle_plain,
       |  sum(CASE WHEN (${splitOf("comp_a")}) <> (${splitOf("comp_b")})
       |      THEN 1 ELSE 0 END)::BIGINT AS n_straddle_safe
       |FROM e2""".stripMargin
  }

  /** Data-constrained token-budget plan (Muennighoff et al. 2023): a
    * 100k-token budget at the standard en .4 / de .2 / es .2 / zh .2
    * mixture, repetition capped at the published ~4-epoch utility
    * cliff. At sf0.01 the cap BINDS for de/es/zh (each too small for
    * its 20k-token quota — nonzero shortfall) while en fills its 40k
    * quota in ~3.4 epochs uncapped, so both regimes of the plan are
    * under the hash gate. fr is untargeted and must not appear. */
  private val TokenBudget = 100000L
  private val BudgetTargets: Seq[(String, Double)] =
    Seq("en" -> 0.4, "de" -> 0.2, "es" -> 0.2, "zh" -> 0.2)

  private val tokenBudget: QueryFn = (s, dir) =>
    TrainingData.tokenBudgetPlan(table(s, dir, "documents"),
        col("lang"), size(tokens(col("text"))),
        budget = TokenBudget, targets = BudgetTargets.toMap, maxEpochs = 4.0)
      .withColumnRenamed("group", "lang")
      .orderBy(col("lang"))

  private val tokenBudgetSql: String = {
    val vals = BudgetTargets.sortBy(_._1)
      .map { case (g, sh) => s"('$g', $sh::DOUBLE)" }.mkString(", ")
    s"""WITH tgt(lang, share) AS (VALUES $vals),
       |g AS (SELECT lang, count(*) AS n_docs,
       |        sum(len(${TextQueries.tokSql}))::BIGINT AS avail_tokens
       |      FROM documents GROUP BY 1),
       |e AS (SELECT g.lang, n_docs, avail_tokens,
       |        round(share * $TokenBudget, 6) + 0 AS quota_tokens,
       |        least(4.0::DOUBLE,
       |          round(share * $TokenBudget / avail_tokens::DOUBLE, 6)) + 0
       |          AS epochs
       |      FROM g JOIN tgt USING (lang)),
       |a AS (SELECT lang, n_docs, avail_tokens, quota_tokens, epochs,
       |        round(avail_tokens::DOUBLE * epochs, 0)::BIGINT AS alloc_tokens
       |      FROM e)
       |SELECT lang, n_docs, avail_tokens, quota_tokens, epochs, alloc_tokens,
       |  round(quota_tokens - alloc_tokens::DOUBLE, 6) + 0 AS shortfall_tokens
       |FROM a ORDER BY lang""".stripMargin
  }

  /** The plan APPLIED (Muennighoff et al.'s repeat-then-sample): one
    * (doc, epoch) row per scheduled pass — capped groups (de/es/zh at
    * exactly 4.0 epochs) emit each doc exactly 4 times with NO
    * fractional draw, while en at ~3.40 epochs emits 3 full passes
    * plus an md5-selected ~40% fourth. The oracle retrains the plan
    * and replays the series + the salted fractional draw. */
  private val tokenBudgetSample: QueryFn = (s, dir) => {
    val docs = table(s, dir, "documents")
    val plan = TrainingData.tokenBudgetPlan(docs,
      col("lang"), size(tokens(col("text"))),
      budget = TokenBudget, targets = BudgetTargets.toMap, maxEpochs = 4.0)
    TrainingData.tokenBudgetSample(docs, col("doc_id"), col("lang"), plan)
      .withColumnRenamed("id", "doc_id")
      .withColumnRenamed("group", "lang")
      .orderBy(col("doc_id"), col("epoch"))
  }

  private val tokenBudgetSampleSql: String = {
    val vals = BudgetTargets.sortBy(_._1)
      .map { case (g, sh) => s"('$g', $sh::DOUBLE)" }.mkString(", ")
    s"""WITH tgt(lang, share) AS (VALUES $vals),
       |g AS (SELECT lang,
       |        sum(len(${TextQueries.tokSql}))::BIGINT AS avail_tokens
       |      FROM documents GROUP BY 1),
       |e AS (SELECT g.lang,
       |        least(4.0::DOUBLE,
       |          round(share * $TokenBudget / avail_tokens::DOUBLE, 6)) + 0
       |          AS epochs
       |      FROM g JOIN tgt USING (lang)),
       |x AS (SELECT d.doc_id, d.lang,
       |        floor(e.epochs)::INT AS fl,
       |        round((e.epochs - floor(e.epochs)) * 1000000)::BIGINT AS fb
       |      FROM documents d JOIN e USING (lang))
       |SELECT doc_id, lang, u.e::INT AS epoch
       |FROM x, unnest(range(0, fl + 1)) AS u(e)
       |WHERE u.e < fl OR
       |  ('0x' || substr(md5('epoch:' || doc_id::VARCHAR), 1, 8))::BIGINT
       |    % 1000000 < fb
       |ORDER BY doc_id, epoch""".stripMargin
  }

  /** The token-budget plan COMPOSED into the shard sink (the
    * data-constrained recipe end-to-end): plan → repeat-then-sample
    * epochs → EPOCH-MAJOR packing over the instance key
    * epoch * (max_id + 1) + doc_id → per-(sequence, doc) slice rows →
    * deterministic shard assignment (seq DIV seqsPerShard). The oracle
    * replays the whole chain — the plan arithmetic, the fractional
    * md5 draw, the instance-key concatenation order, the global prefix
    * sum, the slice math, and the shard arithmetic — so a drifted
    * epoch draw or a swapped concatenation order hash-mismatches. */
  private val TbpBudget = 64L
  private val TbpSeqsPerShard = 8L

  private val tokenBudgetShards: QueryFn = (s, dir) => {
    val docs = table(s, dir, "documents")
    val plan = TrainingData.tokenBudgetPlan(docs,
      col("lang"), size(tokens(col("text"))),
      budget = TokenBudget, targets = BudgetTargets.toMap, maxEpochs = 4.0)
    val packed = TrainingData.tokenBudgetPack(docs, col("doc_id"),
      col("lang"), size(tokens(col("text"))), plan,
      budget = TbpBudget, shards = 8)
    TrainingData.sequenceRows(packed, budget = TbpBudget)
      .withColumn("shard", expr(s"seq DIV ${TbpSeqsPerShard}L"))
      .select(col("seq"), col("id").as("doc_id"), col("slice_start"),
        col("slice_len"), col("seq_pos"), col("shard"))
      .orderBy(col("seq"), col("seq_pos"), col("doc_id"))
  }

  private val tokenBudgetShardsSql: String = {
    val vals = BudgetTargets.sortBy(_._1)
      .map { case (g, sh) => s"('$g', $sh::DOUBLE)" }.mkString(", ")
    val b = TbpBudget
    s"""WITH tgt(lang, share) AS (VALUES $vals),
       |g AS (SELECT lang,
       |        sum(len(${TextQueries.tokSql}))::BIGINT AS avail_tokens
       |      FROM documents GROUP BY 1),
       |e AS (SELECT g.lang,
       |        least(4.0::DOUBLE,
       |          round(share * $TokenBudget / avail_tokens::DOUBLE, 6)) + 0
       |          AS epochs
       |      FROM g JOIN tgt USING (lang)),
       |x AS (SELECT d.doc_id, len(${TextQueries.tokSql})::BIGINT AS n_tokens,
       |        floor(e.epochs)::INT AS fl,
       |        round((e.epochs - floor(e.epochs)) * 1000000)::BIGINT AS fb
       |      FROM documents d JOIN e USING (lang)),
       |span AS (SELECT max(doc_id)::BIGINT + 1 AS s FROM documents),
       |inst AS (SELECT doc_id, n_tokens,
       |          u.e::BIGINT * (SELECT s FROM span) + doc_id AS ikey
       |        FROM x, unnest(range(0, fl + 1)) AS u(e)
       |        WHERE u.e < fl OR
       |          ('0x' || substr(md5('epoch:' || doc_id::VARCHAR), 1, 8))::BIGINT
       |            % 1000000 < fb),
       |o AS (SELECT doc_id, n_tokens, ikey,
       |        coalesce(SUM(n_tokens) OVER (ORDER BY ikey
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
       |          AS off
       |      FROM inst),
       |a AS (SELECT doc_id, n_tokens, off,
       |        off // $b AS seq_first,
       |        (off + greatest(n_tokens, 1) - 1) // $b AS seq_last
       |      FROM o WHERE n_tokens > 0)
       |SELECT u.s AS seq, doc_id,
       |  greatest(off, u.s * $b) - off AS slice_start,
       |  least(off + n_tokens, (u.s + 1) * $b) - greatest(off, u.s * $b)
       |    AS slice_len,
       |  greatest(off, u.s * $b) - u.s * $b AS seq_pos,
       |  u.s // $TbpSeqsPerShard AS shard
       |FROM a, unnest(range(seq_first, seq_last + 1)) AS u(s)
       |ORDER BY seq, seq_pos, doc_id""".stripMargin
  }

  /** Whole-document greedy packing (no cross-document attention — docs
    * never split): the oracle replays the ENTIRE recurrence with a
    * recursive CTE stepping every id-range bucket one row at a time —
    * the greedy break rule, the oversize-alone case, the bucket
    * boundary close, and the two-phase global sequence numbering all
    * hash-gate. Budget 64 / bucketDocs 32 so the sf0.01 fixture
    * exercises multi-bucket numbering and oversize docs at once. */
  private val PwdBudget = 64L
  private val PwdBucketDocs = 32

  /** ONE home for the recursive greedy-packing CTE chain — the
    * round's most intricate oracle SQL, shared by all four whole-doc
    * rows so a fix to the break rule or the seq_base roll-up cannot
    * silently leave a sibling replaying the old recurrence. Input:
    * a CTE named `src` with (id, n_tokens[, carried payload columns]);
    * emits CTEs b (bucketed + row-numbered, carrying `carry`),
    * g (the per-bucket greedy recurrence: local_seq/seq_pos/fill),
    * ns and bs (per-bucket sequence counts → exclusive global bases).
    * Callers append their SELECT (join b back by (bucket, rn) for
    * carried payloads). */
  private def packRecurrenceCtes(src: String, carry: String = ""): String = {
    val c = if (carry.isEmpty) "" else s", $carry"
    s"""b AS (SELECT id, n_tokens$c, id // $PwdBucketDocs AS bucket,
       |        row_number() OVER (PARTITION BY id // $PwdBucketDocs
       |                           ORDER BY id) AS rn
       |      FROM $src),
       |g AS (
       |  SELECT bucket, rn, id, n_tokens,
       |    0::BIGINT AS local_seq, 0::BIGINT AS seq_pos,
       |    n_tokens AS fill
       |  FROM b WHERE rn = 1
       |  UNION ALL
       |  SELECT b.bucket, b.rn, b.id, b.n_tokens,
       |    CASE WHEN g.fill + b.n_tokens > $PwdBudget
       |         THEN g.local_seq + 1 ELSE g.local_seq END,
       |    CASE WHEN g.fill + b.n_tokens > $PwdBudget
       |         THEN 0 ELSE g.fill END,
       |    CASE WHEN g.fill + b.n_tokens > $PwdBudget
       |         THEN b.n_tokens ELSE g.fill + b.n_tokens END
       |  FROM g JOIN b ON b.bucket = g.bucket AND b.rn = g.rn + 1),
       |ns AS (SELECT bucket, max(local_seq) + 1 AS n_seqs FROM g GROUP BY 1),
       |bs AS (SELECT bucket,
       |         coalesce(sum(n_seqs) OVER (ORDER BY bucket
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |           AS seq_base
       |       FROM ns)""".stripMargin
  }

  private val packWholeDocs: QueryFn = (s, dir) =>
    TrainingData.packWholeDocs(table(s, dir, "documents"),
        col("doc_id"), size(tokens(col("text"))),
        budget = PwdBudget, bucketDocs = PwdBucketDocs)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))

  private val packWholeDocsSql: String =
    s"""WITH RECURSIVE n AS (
       |  SELECT doc_id AS id, len(${TextQueries.tokSql})::BIGINT AS n_tokens
       |  FROM documents),
       |${packRecurrenceCtes("n")}
       |SELECT g.id AS doc_id, g.n_tokens,
       |  (bs.seq_base + g.local_seq)::BIGINT AS seq, g.seq_pos,
       |  g.n_tokens > $PwdBudget AS oversize
       |FROM g JOIN bs USING (bucket) ORDER BY doc_id""".stripMargin

  /** The whole-doc layout's PAYLOADS — actual training sequences with
    * member docs' tokens concatenated in slot order, never split; the
    * oracle replays the packing recurrence and reassembles each
    * sequence's token stream blind (content-hashed like the
    * concat-and-chunk payload rows). */
  private val packWholeDocsPayloads: QueryFn = (s, dir) =>
    TrainingData.packedWholeDocSequences(table(s, dir, "documents"),
        col("doc_id"), tokens(col("text")),
        budget = PwdBudget, bucketDocs = PwdBucketDocs)
      .select(col("seq"), col("n_docs"), col("n_tokens"), col("oversize"),
        md5(concat_ws(" ", col("tokens"))).as("tokens_md5"))
      .orderBy(col("seq"))

  private val packWholeDocsPayloadsSql: String =
    s"""WITH RECURSIVE n0 AS (
       |  SELECT doc_id AS id, ${TextQueries.tokSql} AS t FROM documents),
       |n AS (SELECT id, t, len(t)::BIGINT AS n_tokens FROM n0),
       |${packRecurrenceCtes("n", carry = "t")},
       |m AS (SELECT (bs.seq_base + g.local_seq)::BIGINT AS seq,
       |        g.seq_pos, g.n_tokens > $PwdBudget AS over, b.t
       |      FROM g JOIN bs USING (bucket)
       |      JOIN b ON b.bucket = g.bucket AND b.rn = g.rn)
       |SELECT seq, count(*)::BIGINT AS n_docs,
       |  sum(len(t))::BIGINT AS n_tokens,
       |  max(over) AS oversize,
       |  md5(array_to_string(flatten(list(t ORDER BY seq_pos)), ' '))
       |    AS tokens_md5
       |FROM m GROUP BY seq ORDER BY seq""".stripMargin

  /** Whole-doc payloads over BPE SUBWORD streams — the full
    * no-cross-document-attention pipeline: train merges on the corpus,
    * tokenize every document to subwords, pack WHOLE documents by
    * subword count, materialize each sequence's subword stream. The
    * oracle replays BPE training + application (the sentinel-wrapped
    * CTE chain), the per-doc subword counts, the packing recurrence,
    * and the per-sequence reassembly — entirely blind. */
  private val packWholePayloadsBpe: QueryFn = (s, dir) => {
    val docs = table(s, dir, "documents")
    val merges = bpeMergesFor(s, dir)
    val encoded = BpeTokenizer.encodedTokens(docs, col("doc_id"),
      col("text"), merges)
    TrainingData.packedWholeDocSequences(encoded, col("id"), col("toks"),
        budget = PwdBudget, bucketDocs = PwdBucketDocs)
      .select(col("seq"), col("n_docs"), col("n_tokens"), col("oversize"),
        md5(concat_ws(" ", col("tokens"))).as("tokens_md5"))
      .orderBy(col("seq"))
  }

  private val packWholePayloadsBpeSql: String =
    s"""WITH RECURSIVE $bpeTrainCtes,
       |$bpeApplyCtes,
       |termtoks AS (
       |  SELECT term,
       |    CASE WHEN s IS NULL THEN string_split(term, '')
       |         ELSE string_split(s[2:len(s)-1], chr(3)||chr(2)) END AS tl
       |  FROM a$BpeM),
       |words AS (
       |  SELECT id, i AS pos, t[i] AS term
       |  FROM (SELECT doc_id AS id, ${TextQueries.tokSql} AS t FROM documents),
       |       unnest(range(1, len(t) + 1)) AS u(i)),
       |dt AS (
       |  SELECT id, flatten(list(tl ORDER BY pos)) AS dtoks
       |  FROM words JOIN termtoks USING (term) GROUP BY id),
       |n AS (SELECT id, dtoks, len(dtoks)::BIGINT AS n_tokens FROM dt),
       |${packRecurrenceCtes("n", carry = "dtoks")},
       |m AS (SELECT (bs.seq_base + g.local_seq)::BIGINT AS seq,
       |        g.seq_pos, g.n_tokens > $PwdBudget AS over, b.dtoks
       |      FROM g JOIN bs USING (bucket)
       |      JOIN b ON b.bucket = g.bucket AND b.rn = g.rn)
       |SELECT seq, count(*)::BIGINT AS n_docs,
       |  sum(len(dtoks))::BIGINT AS n_tokens,
       |  max(over) AS oversize,
       |  md5(array_to_string(flatten(list(dtoks ORDER BY seq_pos)), ' '))
       |    AS tokens_md5
       |FROM m GROUP BY seq ORDER BY seq""".stripMargin

  /** The whole-doc layout's efficiency report — the padding tax of
    * keeping attention inside documents, the number that picks between
    * this layout and concat-and-chunk. The oracle re-runs the packing
    * recurrence and aggregates identically. */
  private val packingEfficiency: QueryFn = (s, dir) =>
    TrainingData.packingEfficiency(
      TrainingData.packWholeDocs(table(s, dir, "documents"),
        col("doc_id"), size(tokens(col("text"))),
        budget = PwdBudget, bucketDocs = PwdBucketDocs),
      budget = PwdBudget)

  private val packingEfficiencySql: String =
    s"""WITH RECURSIVE n AS (
       |  SELECT doc_id AS id, len(${TextQueries.tokSql})::BIGINT AS n_tokens
       |  FROM documents),
       |${packRecurrenceCtes("n")},
       |ps AS (SELECT bucket, local_seq, count(*) AS docs,
       |         sum(n_tokens) AS mass,
       |         max(CASE WHEN n_tokens > $PwdBudget THEN 1 ELSE 0 END)
       |           AS over
       |       FROM g GROUP BY 1, 2),
       |agg AS (SELECT sum(docs)::BIGINT AS n_docs,
       |          count(*)::BIGINT AS n_seqs,
       |          sum(over)::BIGINT AS n_oversize,
       |          sum(mass)::BIGINT AS packed_tokens,
       |          sum(CASE WHEN over = 0 THEN $PwdBudget - mass
       |              ELSE 0 END)::BIGINT AS padded_tokens
       |        FROM ps)
       |SELECT n_docs, n_seqs, n_oversize, packed_tokens, padded_tokens,
       |  CASE WHEN n_seqs - n_oversize = 0 THEN 0.0::DOUBLE
       |       ELSE round(padded_tokens::DOUBLE /
       |              ((n_seqs - n_oversize)::DOUBLE * $PwdBudget), 6) + 0
       |  END AS padding_frac
       |FROM agg""".stripMargin

  /** The WHOLE-DOC training-shard sink, gated end-to-end (r19 verdict
    * task 4): pack whole documents at the shared budget, project the
    * layout's one-slice-per-doc rows, WRITE them as fixed-size parquet
    * shards through the same [[TrainingData.writeShards]] sink
    * concat-and-chunk uses, then aggregate the manifest from the files
    * the sink actually wrote. The oracle replays the greedy-packing
    * recurrence and the shard arithmetic in SQL — a wrong break point,
    * a dropped doc, or a mis-sharded sequence all hash-mismatch
    * against bytes that went through a real parquet roundtrip. */
  private val packWholeShards: QueryFn = (s, dir) =>
    shardSinkManifest(s, dir, "wshard-sink") { path =>
      val packed = TrainingData.packWholeDocs(table(s, dir, "documents"),
        col("doc_id"), size(tokens(col("text"))),
        budget = PwdBudget, bucketDocs = PwdBucketDocs)
      TrainingData.writeShards(
        TrainingData.wholeDocSequenceRows(packed), path, seqsPerShard = 8)
      ()
    }

  private val packWholeShardsSql: String =
    s"""WITH RECURSIVE n AS (
       |  SELECT doc_id AS id, len(${TextQueries.tokSql})::BIGINT AS n_tokens
       |  FROM documents),
       |${packRecurrenceCtes("n")},
       |sl AS (
       |  SELECT ((bs.seq_base + g.local_seq) // 8)::BIGINT AS shard,
       |         (bs.seq_base + g.local_seq)::BIGINT AS seq, g.n_tokens
       |  FROM g JOIN bs USING (bucket)
       |  WHERE g.n_tokens > 0)
       |SELECT shard, count(*) AS n_rows, count(DISTINCT seq) AS n_seqs,
       |  sum(n_tokens)::BIGINT AS n_tokens
       |FROM sl GROUP BY shard ORDER BY shard""".stripMargin


  /** Deterministic weighted sampling (Efraimidis-Spirakis top-k in log
    * space), weight = document length in chars: longer documents are
    * proportionally likelier to be drawn, and the draw replays from the
    * ids alone. ln is already proven bit-compatible across engines by
    * the BM25 oracle row. */
  private val weightedSample: QueryFn = (s, dir) =>
    TrainingData.weightedSample(table(s, dir, "documents"),
        col("doc_id"), col("n_chars"), k = 100)
      .select(col("doc_id"), col("n_chars"))
      .orderBy(col("doc_id"))

  private val weightedSampleSql: String =
    """SELECT doc_id, n_chars FROM (
      |  SELECT doc_id, n_chars,
      |    ln((('0x' || substr(md5('samp:' || doc_id::VARCHAR), 1, 8))::BIGINT
      |        % 1073741824 + 1) / 1073741824.0) / n_chars::DOUBLE AS key
      |  FROM documents
      |  ORDER BY key DESC, doc_id LIMIT 100)
      |ORDER BY doc_id""".stripMargin

  /** The FULL curation composition — what a real pre-training freeze
    * runs: exclude the eval source itself, quality-gate, keep the target
    * language, drop near-duplicates (greedy keep-first over the whole
    * corpus), and drop every document contaminated by eval 4-grams. One
    * row proving the decontamination stage composes with the rest of
    * the pipeline exactly like its standalone gate. */
  private val cleanTrainingSet: QueryFn = (s, dir) => {
    val docs = table(s, dir, "documents")
    val corpus = docs.where(col("source") =!= "src0")
    val t = tokens(col("text"))
    val losers = NearDup.nearDupPairs(docs, col("doc_id"), col("text"),
      n = 3, numHashes = 16, rowsPerBand = 2, threshold = 0.5)
      .select(col("id_b"))
    val contaminated = TrainingData.contaminationHits(
      corpus, col("doc_id"), col("text"),
      docs.where(col("source") === "src0"), col("text"), n = 4)
      .select(col("id"))
    corpus
      .where(qualityScore(t) >= QualityMin)
      .where(predictedLang(t) === "en")
      .join(losers, corpus("doc_id") === col("id_b"), "left_anti")
      .join(contaminated, corpus("doc_id") === col("id"), "left_anti")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(ceil(length(trim(col("text"))).cast("double") / 4.0).cast("long"))
          .as("total_tokens_est"),
        sum(col("n_chars")).as("total_chars"))
  }

  private val cleanTrainingSetSql: String =
    s"""WITH ${DedupQueries.jaccardPairs},
       |g4 AS ($hashedGram4Sets),
       |bench AS (SELECT DISTINCT unnest(hsh) AS h FROM g4 WHERE source = 'src0'),
       |contaminated AS (
       |  SELECT DISTINCT c.doc_id
       |  FROM (SELECT doc_id, unnest(hsh) AS h FROM g4 WHERE source <> 'src0') c
       |  JOIN bench USING (h)),
       |keep AS (
       |  SELECT doc_id, text, n_chars, ${TextQueries.tokSql} AS t
       |  FROM documents
       |  WHERE source <> 'src0'
       |    AND doc_id NOT IN (SELECT doc_b FROM p WHERE j >= 0.5)
       |    AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
       |$scoredTotalsSql""".stripMargin

  /** Facade decontamination audit through a MANAGED library: ingest the
    * non-eval documents as chunks of one engine library, then ask the
    * engine which chunks share eval 4-grams — the serving-corpus
    * pre-release check, gated by the same SQL contract as the operator
    * row (chunk ids are 'd'||doc_id, so the oracle maps directly). */
  private val lifecycleDecontaminate: QueryFn = (s, dir) => {
    val docs = table(s, dir, "documents")
    val eng = graft.engine.VectorEngine.create(s)
    val lib = eng.createLibrary("decon-corpus", dim = 4, id = Some("declib"))
    eng.addDocumentsDf(lib.id, s.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row("alldocs", "alldocs",
        Map.empty[String, String])),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("name",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("metadata",
          org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.StringType))))))
    eng.addChunksDf(lib.id, docs.where(col("source") =!= "src0").select(
      concat(lit("d"), col("doc_id")).as("id"),
      lit("alldocs").as("document_id"),
      col("text"),
      array(col("doc_id").cast("float"), lit(0f), lit(0f), lit(0f))
        .as("embedding"),
      typedLit(Map.empty[String, String]).as("metadata"),
      col("doc_id").cast("int").as("chunk_index")))
    eng.contaminatedChunks(lib.id, docs.where(col("source") === "src0"),
      col("text"), n = 4)
  }

  private val lifecycleDecontaminateSql: String =
    s"""WITH g AS ($hashedGram4Sets),
       |b AS (SELECT DISTINCT unnest(hsh) AS h FROM g WHERE source = 'src0'),
       |c AS (SELECT doc_id, unnest(hsh) AS h FROM g WHERE source <> 'src0')
       |SELECT 'd' || c.doc_id AS chunk_id, count(*) AS n_hits
       |FROM c JOIN b USING (h) GROUP BY 1 ORDER BY 1""".stripMargin

  /** The corpus datasheet — one row summarizing the training corpus
    * (volume, language mix, exact/near-dup structure, quality
    * histogram, PII totals, benchmark contamination), corpus = the
    * non-eval sources, benchmark = src0 (the decontaminate
    * convention). The oracle replays every panel in one SQL statement:
    * the shared tokenize/quality/lang/PII fragments, an all-pairs
    * trigram-Jaccard near-dup count (the oracle may go all-pairs; the
    * operator must not), and the hashed-4-gram contamination join. */
  private val datasheet: QueryFn = (s, dir) => {
    val docs = table(s, dir, "documents")
    TrainingData.corpusDatasheet(
      docs.where(col("source") =!= "src0"), col("doc_id"), col("text"),
      docs.where(col("source") === "src0"), col("text"))
  }

  private val datasheetSql: String = {
    val langCounts =
      (TextAnalysis.ScriptRanges.map(_._1) ++
        TextAnalysis.LangProfiles.map(_._1)).map { code =>
        s"sum(CASE WHEN lang = '$code' THEN 1 ELSE 0 END)::BIGINT AS lang_$code"
      }.mkString(",\n       |  ")
    val scriptWhens = TextAnalysis.ScriptRanges.map { case (code, cls) =>
      s"WHEN len(regexp_extract_all(text, '$cls')) > 0 THEN '$code'"
    }.mkString(" ")
    var piiState = "text"
    val piiCols = TextAnalysis.PiiPatterns.map { case (name, pat, repl) =>
      val c = s"len(regexp_extract_all($piiState, '$pat'))::BIGINT AS pii_$name"
      piiState = s"regexp_replace($piiState, '$pat', '$repl', 'g')"
      c
    }.mkString(",\n       |    ")
    val piiSums = TextAnalysis.PiiPatterns.map { case (name, _, _) =>
      s"sum(pii_$name)::BIGINT AS pii_$name"
    }.mkString(", ")
    val corpusRel = "(SELECT doc_id, text FROM documents WHERE source <> 'src0')"
    s"""WITH per AS (
       |  SELECT doc_id, md5(text) AS dg, len(t)::BIGINT AS ntok,
       |    len(text)::BIGINT AS nchar,
       |    CASE $scriptWhens ELSE ${TextQueries.langCaseSql} END AS lang,
       |    CASE WHEN len(t) > 0 THEN ${TextQueries.qualitySqlOf("t")}
       |    ELSE 0.0 END AS q,
       |    $piiCols
       |  FROM (SELECT doc_id, text, ${TextQueries.tokSql} AS t
       |        FROM documents WHERE source <> 'src0')),
       |base AS (
       |  SELECT count(*)::BIGINT AS n_docs, sum(ntok)::BIGINT AS n_tokens,
       |    sum(nchar)::BIGINT AS n_chars,
       |    count(DISTINCT dg)::BIGINT AS n_unique_texts,
       |    sum(CASE WHEN q < 0.25 THEN 1 ELSE 0 END)::BIGINT AS q_lo,
       |    sum(CASE WHEN q >= 0.25 AND q < 0.5 THEN 1 ELSE 0 END)::BIGINT AS q_mid,
       |    sum(CASE WHEN q >= 0.5 AND q < 0.75 THEN 1 ELSE 0 END)::BIGINT AS q_hi,
       |    sum(CASE WHEN q >= 0.75 THEN 1 ELSE 0 END)::BIGINT AS q_top,
       |  $langCounts,
       |    $piiSums
       |  FROM per),
       |${DedupQueries.jaccardPairsFrom(corpusRel)},
       |nd AS (SELECT count(*)::BIGINT AS near_dup_pairs FROM p WHERE j >= 0.5),
       |g AS ($hashedGram4Sets),
       |bench AS (SELECT DISTINCT unnest(hsh) AS h FROM g WHERE source = 'src0'),
       |corp AS (SELECT doc_id, unnest(hsh) AS h FROM g WHERE source <> 'src0'),
       |cont AS (SELECT count(*)::BIGINT AS contaminated_docs FROM
       |  (SELECT DISTINCT doc_id FROM corp JOIN bench USING (h)))
       |SELECT base.*, nd.near_dup_pairs, cont.contaminated_docs
       |FROM base, nd, cont""".stripMargin
  }

  /** Temperature-scaled mixture (alpha = 0.5): targets DERIVED from the
    * corpus shares (q ~ p^alpha), then the same cap/rate/md5-keep rule as
    * the explicit-target mixture row. The oracle recomputes counts, the
    * rounded alpha power, the group-ordered Z fold, the cap, and the keep
    * rule. */
  private val TempAlpha = 0.5

  private val mixtureTemperature: QueryFn = (s, dir) =>
    TrainingData.temperatureMixture(table(s, dir, "documents"),
        col("doc_id"), col("lang"), alpha = TempAlpha)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  private val mixtureTemperatureSql: String =
    s"""WITH cnt AS (SELECT lang, count(*)::DOUBLE AS n FROM documents
       |       WHERE lang IS NOT NULL GROUP BY 1),
       |tot AS (SELECT sum(n) AS t FROM cnt),
       |pw AS (SELECT lang, n, round(pow(n / t, $TempAlpha), 12) AS pa
       |       FROM cnt, tot),
       |z AS (SELECT list_reduce(list_prepend(0.0::DOUBLE,
       |         list(pa ORDER BY lang)), (a, b) -> a + b) AS z FROM pw),
       |q AS (SELECT lang, n, pa / z AS q FROM pw, z),
       |cap AS (SELECT min(n / q) AS cap FROM q),
       |rates AS (SELECT lang, least(1.0::DOUBLE, q * cap / n) AS rate
       |          FROM q, cap)
       |SELECT d.doc_id, d.lang
       |FROM documents d JOIN rates r USING (lang)
       |WHERE ('0x' || substr(md5('mixt:' || d.doc_id::VARCHAR), 1, 8))::BIGINT
       |        % 1000000
       |      < floor(r.rate * 1000000)
       |ORDER BY doc_id""".stripMargin

  // ---------------- DSIR importance resampling ----------------

  /** DSIR (Xie et al. 2023): hashed unigram+bigram bucket model of a
    * TARGET subset (here the de-language documents — the "looks like
    * this" exemplar set) against the raw corpus, per-document log-ratio
    * importance weights, Gumbel top-k selection. The oracle re-derives
    * tokenization, the feature hash, BOTH smoothed bucket models, the
    * bucket-ordered per-document fold, and the Gumbel keys. */
  private val DsirBuckets = ImportanceSampling.DefaultBuckets
  private val DsirK = 50

  private def dsirTarget(docs: org.apache.spark.sql.DataFrame) =
    docs.where(col("lang") === "de")

  private val dsirWeights: QueryFn = (s, dir) => {
    val docs = table(s, dir, "documents")
    ImportanceSampling.importanceWeights(docs, dsirTarget(docs),
        col("doc_id"), col("text"), DsirBuckets)
      .select(col("id").as("doc_id"), col("n_feats"), col("logweight"))
      .orderBy(col("doc_id"))
  }

  /** Shared CTE chain: pinned-kernel tokens -> unigram+bigram feature
    * occurrences -> md5 feature buckets -> smoothed log-ratio model ->
    * per-document bucket-ordered contribution fold. */
  private val dsirAggSql: String = {
    val seed = ImportanceSampling.FeatureHashSeed
    s"""tok AS (SELECT doc_id, lang, ${TextQueries.tokSql} AS t FROM documents),
       |feat AS (SELECT doc_id, lang,
       |    unnest(t || CASE WHEN len(t) >= 2
       |      THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
       |      ELSE []::VARCHAR[] END) AS gram
       |  FROM tok),
       |fb AS (SELECT doc_id, lang,
       |    ${DedupQueries.hashSql(seed, "gram")} % $DsirBuckets AS bucket
       |  FROM feat),
       |tcnt AS (SELECT bucket, count(*) AS tc FROM fb WHERE lang = 'de' GROUP BY 1),
       |rcnt AS (SELECT bucket, count(*) AS rc FROM fb GROUP BY 1),
       |bk AS (SELECT unnest(range($DsirBuckets)) AS bucket),
       |m AS (SELECT bk.bucket, coalesce(tc, 0) AS tc, coalesce(rc, 0) AS rc
       |      FROM bk LEFT JOIN tcnt USING (bucket) LEFT JOIN rcnt USING (bucket)),
       |tot AS (SELECT sum(tc) AS tt, sum(rc) AS rt FROM m),
       |lam AS (SELECT bucket,
       |    ln((tc + 1)::DOUBLE / (tt + $DsirBuckets)) -
       |    ln((rc + 1)::DOUBLE / (rt + $DsirBuckets)) AS lam
       |  FROM m, tot),
       |db AS (SELECT doc_id, bucket, count(*) AS cnt FROM fb GROUP BY 1, 2),
       |ctb AS (SELECT db.doc_id, db.bucket, db.cnt, db.cnt * lam.lam AS contrib
       |        FROM db JOIN lam USING (bucket)),
       |agg AS (SELECT doc_id, sum(cnt)::BIGINT AS n_feats,
       |         list_reduce(list_prepend(0.0::DOUBLE,
       |           list(contrib ORDER BY bucket)), (a, b) -> a + b) AS s
       |       FROM ctb GROUP BY 1),
       |w AS (SELECT d.doc_id, coalesce(n_feats, 0)::BIGINT AS n_feats,
       |        coalesce(round(s, 6) + 0, 0.0::DOUBLE) AS logweight
       |      FROM documents d LEFT JOIN agg USING (doc_id))""".stripMargin
  }

  private val dsirWeightsSql: String =
    s"""WITH $dsirAggSql
       |SELECT doc_id, n_feats, logweight FROM w ORDER BY doc_id""".stripMargin

  private val dsirSample: QueryFn = (s, dir) => {
    val docs = table(s, dir, "documents")
    ImportanceSampling.importanceResample(docs, dsirTarget(docs),
        col("doc_id"), col("text"), DsirK, DsirBuckets)
      .select(col("id").as("doc_id"), col("logweight"), col("key"))
      .orderBy(col("doc_id"))
  }

  private val dsirSampleSql: String =
    s"""WITH $dsirAggSql,
       |keyed AS (SELECT doc_id, logweight,
       |    logweight - ln(-ln(
       |      (('0x' || substr(md5('dsir:' || doc_id::VARCHAR), 1, 8))::BIGINT
       |        % 1073741824 + 0.5) / 1073741824.0)) AS k
       |  FROM w)
       |SELECT doc_id, logweight, round(k, 6) + 0 AS key FROM (
       |  SELECT * FROM keyed ORDER BY k DESC, doc_id LIMIT $DsirK)
       |ORDER BY doc_id""".stripMargin

  // ---------------- trained two-class quality classifier ----------------

  /** GPT-3-recipe quality classifier (Brown et al. 2020 Appendix A /
    * the LLaMA Wikipedia-reference variant): positive class = the
    * de-language exemplar docs (the same "looks like this" frame the
    * DSIR gate uses), negative class = the en-language docs standing in
    * for raw crawl; EVERY document is scored (class-prior log-odds +
    * bucket-ordered NB log-likelihood-ratio fold, sigmoid on the
    * rounded score) and the published Pareto(9) stochastic keep is
    * replayed. The oracle retrains BOTH class models in SQL, including
    * the smoothing, the prior, the fold order, the rounded logistic,
    * and the md5-derived Pareto draw. */
  private val QcAlpha = graft.operators.QualityClassifier.DefaultAlpha

  private val qualityClassifier: QueryFn = (s, dir) => {
    val docs = table(s, dir, "documents")
    val model = graft.operators.QualityClassifier.trainModel(
      docs.where(col("lang") === "de"), docs.where(col("lang") === "en"),
      col("doc_id"), col("text"), DsirBuckets)
    graft.operators.QualityClassifier.score(docs, col("doc_id"),
        col("text"), model, DsirBuckets)
      .withColumn("keep",
        graft.operators.QualityClassifier.paretoKeep(col("id"), col("prob"),
          QcAlpha).cast("long"))
      .select(col("id").as("doc_id"), col("n_feats"), col("llr"),
        col("prob"), col("keep"))
      .orderBy(col("doc_id"))
  }

  private val qualityClassifierSql: String = {
    val seed = ImportanceSampling.FeatureHashSeed
    val inv = (-1.0d / QcAlpha).toString // printed double, the muSql rule
    s"""WITH tok AS (SELECT doc_id, lang, ${TextQueries.tokSql} AS t FROM documents),
       |feat AS (SELECT doc_id, lang,
       |    unnest(t || CASE WHEN len(t) >= 2
       |      THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
       |      ELSE []::VARCHAR[] END) AS gram
       |  FROM tok),
       |fb AS (SELECT doc_id, lang,
       |    ${DedupQueries.hashSql(seed, "gram")} % $DsirBuckets AS bucket
       |  FROM feat),
       |pcnt AS (SELECT bucket, count(*) AS pc FROM fb WHERE lang = 'de' GROUP BY 1),
       |ncnt AS (SELECT bucket, count(*) AS nc FROM fb WHERE lang = 'en' GROUP BY 1),
       |bk AS (SELECT unnest(range($DsirBuckets)) AS bucket),
       |m AS (SELECT bk.bucket, coalesce(pc, 0) AS pc, coalesce(nc, 0) AS nc
       |      FROM bk LEFT JOIN pcnt USING (bucket) LEFT JOIN ncnt USING (bucket)),
       |tot AS (SELECT sum(pc) AS pt, sum(nc) AS nt FROM m),
       |w AS (SELECT bucket,
       |    ln((pc + 1)::DOUBLE / (pt + $DsirBuckets)) -
       |    ln((nc + 1)::DOUBLE / (nt + $DsirBuckets)) AS w
       |  FROM m, tot),
       |pri AS (SELECT ln(
       |    (SELECT count(*) FROM documents WHERE lang = 'de')::DOUBLE /
       |    (SELECT count(*) FROM documents WHERE lang = 'en')) AS lprior),
       |db AS (SELECT doc_id, bucket, count(*) AS cnt FROM fb GROUP BY 1, 2),
       |ctb AS (SELECT db.doc_id, db.bucket, db.cnt, db.cnt * w.w AS contrib
       |        FROM db JOIN w USING (bucket)),
       |agg AS (SELECT doc_id, sum(cnt)::BIGINT AS n_feats,
       |         list_reduce(list_prepend(0.0::DOUBLE,
       |           list(contrib ORDER BY bucket)), (a, b) -> a + b) AS s
       |       FROM ctb GROUP BY 1),
       |sc AS (SELECT d.doc_id, coalesce(n_feats, 0)::BIGINT AS n_feats,
       |        round((SELECT lprior FROM pri) + coalesce(s, 0.0), 6) + 0 AS llr
       |      FROM documents d LEFT JOIN agg USING (doc_id)),
       |o AS (SELECT doc_id, n_feats, llr,
       |        round(1.0 / (1.0 + exp(-llr)), 6) + 0 AS prob
       |      FROM sc)
       |SELECT doc_id, n_feats, llr, prob,
       |  (CASE WHEN round(pow(
       |      (('0x' || substr(md5('qc:' || doc_id::VARCHAR), 1, 8))::BIGINT
       |        % 1073741824 + 0.5) / 1073741824.0, $inv) - 1.0, 6) + 0
       |      > 1.0 - prob THEN 1 ELSE 0 END)::BIGINT AS keep
       |FROM o ORDER BY doc_id""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q("pipeline_dsir_weights", dsirWeights, Some(dsirWeightsSql)),
    Q("pipeline_dsir_sample", dsirSample, Some(dsirSampleSql)),
    Q("text_quality_classifier", qualityClassifier, Some(qualityClassifierSql)),
    Q("pipeline_datasheet", datasheet, Some(datasheetSql)),
    Q("pipeline_training_set", trainingSet, Some(trainingSetSql)),
    Q("lifecycle_decontaminate", lifecycleDecontaminate,
      Some(lifecycleDecontaminateSql)),
    Q("pipeline_clean_training_set", cleanTrainingSet, Some(cleanTrainingSetSql)),
    Q("pipeline_decontaminate", decontaminate, Some(decontaminateSql)),
    Q("pipeline_pack_sequences", packSequences, Some(packSequencesSql)),
    Q("pipeline_bpe_merges", bpeMerges, Some(bpeMergesSql)),
    Q("pipeline_bpe_tokens", bpeTokens, Some(bpeTokensSql)),
    Q("pipeline_pack_bpe", packBpe, Some(packBpeSql)),
    Q("pipeline_write_shards", writeShards, Some(writeShardsSql)),
    Q("pipeline_pack_payloads", packPayloads, Some(packPayloadsSql)),
    Q("pipeline_pack_payloads_bpe", packPayloadsBpe, Some(packPayloadsBpeSql)),
    Q("pipeline_remove_spans", removeSpans, Some(removeSpansSql)),
    Q("pipeline_split_assign", splitAssign, Some(splitAssignSql)),
    Q("pipeline_split_leakage_safe", splitLeakageSafe, Some(splitLeakageSafeSql)),
    Q("pipeline_token_budget", tokenBudget, Some(tokenBudgetSql)),
    Q("pipeline_split_leakage_audit", splitLeakageAudit, Some(splitLeakageAuditSql)),
    Q("pipeline_token_budget_sample", tokenBudgetSample, Some(tokenBudgetSampleSql)),
    Q("pipeline_token_budget_shards", tokenBudgetShards,
      Some(tokenBudgetShardsSql)),
    Q("pipeline_pack_whole_docs", packWholeDocs, Some(packWholeDocsSql)),
    Q("pipeline_packing_efficiency", packingEfficiency,
      Some(packingEfficiencySql)),
    Q("pipeline_pack_whole_payloads", packWholeDocsPayloads,
      Some(packWholeDocsPayloadsSql)),
    Q("pipeline_pack_whole_bpe", packWholePayloadsBpe,
      Some(packWholePayloadsBpeSql)),
    Q("pipeline_pack_whole_shards", packWholeShards,
      Some(packWholeShardsSql)),
    Q("pipeline_mixture_sample", mixtureSample, Some(mixtureSampleSql)),
    Q("pipeline_mixture_temperature", mixtureTemperature,
      Some(mixtureTemperatureSql)),
    Q("pipeline_weighted_sample", weightedSample, Some(weightedSampleSql)),
  )
}
