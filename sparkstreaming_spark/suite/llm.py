"""LLM-data-pipeline queries over `documents` — dedup (exact, MinHash-LSH,
SimHash, n-gram Jaccard), text analysis (lang-ID, quality, token counts,
winnowing fingerprints), and multimodal blob plumbing.

Every hash-bearing operator uses md5-derived hashes specifically so the
DuckDB oracle below reproduces the Spark results bit-for-bit — the SQL is
generated from the same constants the Spark operators use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..dedup import (
    exact_dedup,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
)
from ..functions.text import BPE_ISH_RE
from ..multimodal import blob_meta, decode_blob_features, with_blob
from ..sources.batch import read_table
from ..textstats import STOPWORDS, add_langid, add_quality_scores
from ..textstats.analysis import winnow_fingerprints
from . import QuerySpec

# ---- shared DuckDB SQL fragments (must mirror functions/text.py exactly) ----
SQL_NORM = r"trim(lower(regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g')))"
SQL_TOKS = rf"string_split_regex({SQL_NORM}, '\s+')"
# 2-gram shingles over toks (DuckDB list slice is 1-based inclusive)
SQL_SHINGLES2 = (
    "[array_to_string(toks[i:i+1], ' ') for i in generate_series(1, len(toks)-1)]"
)


def _sql_md5_64(expr: str) -> str:
    return f"cast(('0x' || substr(md5({expr}), 1, 15)) AS bigint)"


def _bloom_pos_sql(key: str, salt: str, i: int, m_sql: str) -> str:
    """Bloom bit position i of `key` mod `m_sql` — the DuckDB twin of
    dedup/bloom.py::bloom_positions."""
    h1 = _sql_md5_64(f"'{salt}:1:' || {key}")
    h2 = _sql_md5_64(f"'{salt}:2:' || {key}")
    return f"(({h1}) + {i} * ({h2})) % {m_sql}"


# ------------------------------- queries ------------------------------------


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish regex) aggregated per lang."""
    d = read_table(spark, sf_dir, "documents")
    from ..functions.text import bpe_ish_token_count, token_count

    return d.groupBy("lang").agg(
        F.sum(token_count("text")).alias("ws_tokens"),
        F.sum(bpe_ish_token_count("text")).alias("bpe_tokens"),
        F.sum(F.length("text")).alias("chars"),
        F.count(F.lit(1)).alias("n_docs"),
    )


ORACLE_TOKEN_STATS = rf"""
SELECT lang,
       cast(sum(len({SQL_TOKS})) AS bigint) AS ws_tokens,
       cast(sum(len(regexp_extract_all(text, '{BPE_ISH_RE}'))) AS bigint) AS bpe_tokens,
       cast(sum(length(text)) AS bigint) AS chars,
       count(*) AS n_docs
FROM documents GROUP BY lang
"""


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    return exact_dedup(d, "doc_id", "text")


ORACLE_EXACT_DEDUP = rf"""
SELECT md5({SQL_NORM}) AS content_hash,
       min(doc_id) AS keep_id, count(*) AS n_copies
FROM documents GROUP BY content_hash
"""


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    return minhash_near_dup_pairs(
        d, "doc_id", "text", num_perm=16, bands=4, shingle_n=2, threshold=0.5
    )


def _oracle_minhash(num_perm: int = 16, bands: int = 4) -> str:
    from ..dedup.minhash import MERSENNE_P, minhash_params

    rows = num_perm // bands
    mins = ",\n       ".join(
        f"min(({a} * h + {b}) % {MERSENNE_P}) AS mh{i}"
        for i, (a, b) in enumerate(minhash_params(num_perm))
    )
    band_rows = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band_id, md5(concat_ws(',', "
        + ", ".join(f"mh{b * rows + i}" for i in range(rows))
        + ")) AS band_hash FROM sig"
        for b in range(bands)
    )
    return rf"""
WITH t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
sh_sets AS (SELECT doc_id, list_distinct({SQL_SHINGLES2}) AS sh FROM t WHERE len(toks) >= 2),
sh AS (SELECT doc_id, {_sql_md5_64('shingle')} % {MERSENNE_P} AS h
       FROM (SELECT doc_id, unnest(sh) AS shingle FROM sh_sets)),
sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
bands AS ({band_rows}),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bands a JOIN bands b
           ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b,
       round(len(list_intersect(sa.sh, sb.sh)) * 1.0 /
             (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 6) AS jaccard
FROM cand JOIN sh_sets sa ON cand.doc_a = sa.doc_id
          JOIN sh_sets sb ON cand.doc_b = sb.doc_id
WHERE round(len(list_intersect(sa.sh, sb.sh)) * 1.0 /
            (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 6) >= 0.5
"""


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    return simhash_near_dup_pairs(d, "doc_id", "text", max_hamming=5, bands=6)


def _oracle_simhash(max_hamming: int = 5, bands: int = 6, n_bits: int = 60) -> str:
    width = n_bits // bands
    bit_sums = ", ".join(
        f"sum(CASE WHEN (h >> {p}) & 1 = 1 THEN 1 ELSE -1 END) AS b{p}"
        for p in range(n_bits)
    )
    fp = " + ".join(
        f"(CASE WHEN b{p} > 0 THEN {1 << p}::BIGINT ELSE 0 END)" for p in range(n_bits)
    )
    band_rows = "\nUNION ALL\n".join(
        f"SELECT doc_id, simhash, {b} AS band_id, "
        f"(simhash >> {b * width}) & {(1 << width) - 1} AS band_val FROM sig"
        for b in range(bands)
    )
    return rf"""
WITH t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS w FROM t),
h AS (SELECT doc_id, {_sql_md5_64('w')} AS h FROM tok),
bitsums AS (SELECT doc_id, {bit_sums} FROM h GROUP BY doc_id),
sig AS (SELECT doc_id, ({fp}) AS simhash FROM bitsums),
banded AS ({band_rows})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       cast(bit_count(xor(a.simhash, b.simhash)) AS int) AS hamming
FROM banded a JOIN banded b
  ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-Jaccard pairs under the DEFAULT hot-shingle cap
    (max_doc_freq="auto" = max(100, ceil(1% of docs)), dedup/ngram.py):
    the uncapped all-pairs form now requires an explicit
    max_doc_freq=None opt-in, so a boilerplate-heavy corpus can't
    quadratic-bomb the inverted-index join by default. The oracle
    mirrors the cap exactly — shingle document frequencies, per-doc
    sizes, and intersections are all computed AFTER the cap filter on
    both engines."""
    d = read_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, "doc_id", "text", shingle_n=2, threshold=0.5)


# mirrors the Spark plan including the AUTO df cap: shingle sizes and
# intersections are counted AFTER the hot-shingle filter on both engines
ORACLE_NGRAM_JACCARD = rf"""
WITH t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, unnest(list_distinct({SQL_SHINGLES2})) AS shingle
      FROM t WHERE len(toks) >= 2),
cap AS (SELECT greatest(100, (count(*) + 99) // 100) AS c
        FROM documents),
f AS (SELECT shingle FROM s GROUP BY shingle
      HAVING count(*) <= (SELECT c FROM cap)),
sv AS (SELECT s.doc_id, s.shingle FROM s JOIN f USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sv GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS cmn
  FROM sv a JOIN sv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(cmn * 1.0 / (sa.n_sh + sb.n_sh - cmn), 6) AS jaccard
FROM common
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE round(cmn * 1.0 / (sa.n_sh + sb.n_sh - cmn), 6) >= 0.5
"""


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sample (A-ES keys, operators/sampling.py):
    200 docs drawn ∝ n_chars, reduced to per-(lang, source) counts +
    char mass. Bit-exact across engines: md5-uniform, rounded keys, id
    tiebreak; the oracle ranks with the identical formula."""
    from ..operators.sampling import weighted_hash_sample

    d = read_table(spark, sf_dir, "documents")
    sample = weighted_hash_sample(d, "doc_id", F.col("n_chars").cast("double"), 200)
    return sample.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )


ORACLE_WEIGHTED_SAMPLE = """
WITH keyed AS (
  SELECT *,
         round(pow(((cast(('0x' || substr(md5(concat('wsample', CAST(doc_id AS VARCHAR))), 1, 15)) AS bigint) % 2147483647 + 1) / 2147483647.0),
                   1.0 / CAST(n_chars AS DOUBLE)), 12) AS aes_key
  FROM documents
), top AS (
  SELECT * FROM keyed ORDER BY aes_key DESC, doc_id ASC LIMIT 200
)
SELECT lang, source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM top GROUP BY 1, 2
"""


def q_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment pairs (quote/subset detection): a doc whose
    4-gram shingles are ≥50% covered by another doc's — near-1.0 for
    embedded quotes even when Jaccard is tiny. 4-grams, not 2-grams: on a
    small-vocabulary corpus 2-grams are dense (avg doc-frequency ~200 at
    sf0.1 ⇒ the inverted-index join goes quadratic); 4-grams are
    discriminative (avg df 1.2) while every true containment pair keeps
    its score. max_doc_freq=1000 drops boilerplate shingles before the
    inverted-index join — on a real web corpus a hot 4-gram with df in
    the millions makes that join quadratic on its key; the cap bounds
    every key at O(cap^2) pair rows. No-op on this corpus (df ~1.2), so
    the oracle — which mirrors the cap — still proves exactness.
    dedup/ngram.py."""
    from ..dedup.ngram import ngram_containment_pairs

    d = read_table(spark, sf_dir, "documents")
    return ngram_containment_pairs(
        d, "doc_id", "text", shingle_n=4, threshold=0.5, max_doc_freq=1000
    )


SQL_SHINGLES4 = "[array_to_string(toks[i:i+3], ' ') for i in generate_series(1, len(toks)-3)]"

# mirrors the Spark plan including the df cap: shingle sizes are counted
# AFTER the hot-shingle filter, so the containment denominator matches
ORACLE_NGRAM_CONTAINMENT = rf"""
WITH t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, unnest(list_distinct({SQL_SHINGLES4})) AS shingle
      FROM t WHERE len(toks) >= 4),
f AS (SELECT shingle FROM s GROUP BY shingle HAVING count(*) <= 1000),
sv AS (SELECT s.doc_id, s.shingle FROM s JOIN f USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sv GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS cmn
  FROM sv a JOIN sv b ON a.shingle = b.shingle AND a.doc_id != b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, round(cmn * 1.0 / n_sh, 6) AS containment
FROM common JOIN sizes ON doc_a = sizes.doc_id
WHERE round(cmn * 1.0 / n_sh, 6) >= 0.5
"""


def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic vs the table's lang label, as a confusion count."""
    d = read_table(spark, sf_dir, "documents")
    return (
        add_langid(d, "text", "predicted")
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _oracle_langid() -> str:
    score_cols = []
    for lang, words in STOPWORDS.items():
        arr = "[" + ", ".join(f"'{w}'" for w in words) + "]"
        score_cols.append(
            f"len(list_filter(toks, t -> list_contains({arr}, t))) AS s_{lang}"
        )
    langs = list(STOPWORDS)
    cases = []
    for i, lang in enumerate(langs):
        conds = [f"s_{lang} > 0"]
        for j, other in enumerate(langs):
            if i == j:
                continue
            op = ">" if j < i else ">="
            conds.append(f"s_{lang} {op} s_{other}")
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    case_sql = "CASE " + " ".join(cases) + " ELSE 'und' END"
    return rf"""
WITH t AS (SELECT doc_id, lang, {SQL_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, lang, {', '.join(score_cols)} FROM t)
SELECT lang, {case_sql} AS predicted, count(*) AS cnt
FROM s GROUP BY lang, predicted
"""


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    return add_quality_scores(d, "text").select(
        "doc_id",
        "n_chars",
        "n_tokens",
        "n_bpe_tokens",
        "punct_ratio",
        "stop_ratio",
        "mean_token_len",
        "quality_score",
    )


def _oracle_quality() -> str:
    en = "[" + ", ".join(f"'{w}'" for w in STOPWORDS["en"]) + "]"
    return rf"""
WITH t AS (
  SELECT doc_id, text, {SQL_TOKS} AS toks,
         length(text) AS n_chars,
         len({SQL_TOKS}) AS n_tokens,
         len(regexp_extract_all(text, '{BPE_ISH_RE}')) AS n_bpe_tokens,
         len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS punct_cnt
  FROM documents
), r AS (
  SELECT doc_id, n_chars, n_tokens, n_bpe_tokens,
         CASE WHEN n_chars > 0 THEN punct_cnt * 1.0 / n_chars ELSE 0.0 END AS punct_ratio,
         CASE WHEN n_tokens > 0
              THEN len(list_filter(toks, t -> list_contains({en}, t))) * 1.0 / n_tokens
              ELSE 0.0 END AS stop_ratio,
         CASE WHEN n_tokens > 0
              THEN list_sum(list_transform(toks, t -> length(t))) * 1.0 / n_tokens
              ELSE 0.0 END AS mean_token_len
  FROM t
)
SELECT doc_id, n_chars, n_tokens, n_bpe_tokens,
       round(punct_ratio, 6) AS punct_ratio,
       round(stop_ratio, 6) AS stop_ratio,
       round(mean_token_len, 6) AS mean_token_len,
       round(0.4 * least(n_tokens / 100.0, 1.0)
           + 0.3 * (1.0 - least(punct_ratio * 5, 1.0))
           + 0.3 * least(stop_ratio * 3, 1.0), 6) AS quality_score
FROM r
"""


def q_winnow_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    return winnow_fingerprints(d, "doc_id", "text", k=3, window=4)


def _oracle_winnow(k: int = 3, window: int = 4) -> str:
    shingles_k = (
        f"[array_to_string(toks[i:i+{k - 1}], ' ') "
        f"for i in generate_series(1, len(toks)-{k - 1})]"
    )
    return rf"""
WITH t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
sh AS (SELECT doc_id, {shingles_k} AS shs FROM t WHERE len(toks) >= {k}),
h AS (SELECT doc_id, [{_sql_md5_64('s')} for s in shs] AS hs FROM sh),
w AS (SELECT doc_id,
             list_distinct([list_min(hs[i:i+{window - 1}])
                            for i in generate_series(1, len(hs)-{window - 1})]) AS fps
      FROM h WHERE len(hs) >= {window})
SELECT doc_id, unnest(fps) AS fp FROM w
"""


def q_blob_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: opaque binary column + JVM-side typed metadata."""
    d = with_blob(read_table(spark, sf_dir, "documents"), "text")
    meta = blob_meta("blob")
    return d.select("doc_id", *[v.alias(k) for k, v in meta.items()])


ORACLE_BLOB_META = """
SELECT doc_id, octet_length(encode(text)) AS n_bytes, sha256(text) AS sha256
FROM documents
"""


def q_blob_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched fake decode over blobs (mapInPandas), aggregated per
    source: mean blob size + mean byte value. Oracled: the blob is the
    utf-8 bytes of `text` and this corpus is pure ASCII (bytes ==
    codepoints), so the byte-level features reduce to per-char ascii()
    aggregates in SQL — an exact check of the whole Arrow plumbing. If
    the testdata ever gains non-ASCII text the oracle (not the operator)
    must switch to byte-wise semantics."""
    d = with_blob(read_table(spark, sf_dir, "documents"), "text")
    feats = decode_blob_features(d, "doc_id", "blob", fake=True)
    joined = feats.join(
        d.select(F.col("doc_id").alias("id"), "source"), "id"
    )
    return joined.groupBy("source").agg(
        F.round(F.avg("n_bytes"), 4).alias("avg_bytes"),
        F.round(F.avg("mean_byte"), 4).alias("avg_byte_val"),
        F.count(F.lit(1)).alias("n_docs"),
    )


ORACLE_BLOB_FEATURES = """
WITH chars AS (
  SELECT doc_id, source, unnest(string_split(text, '')) AS ch FROM documents
),
per_doc AS (
  SELECT doc_id, source, count(*) AS n_bytes,
         sum(ascii(ch)) * 1.0 / count(*) AS mean_byte
  FROM chars GROUP BY 1, 2
)
SELECT source, round(avg(n_bytes), 4) AS avg_bytes,
       round(avg(mean_byte), 4) AS avg_byte_val,
       count(*) AS n_docs
FROM per_doc GROUP BY source
"""


def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup RESULT: survivors (lowest doc_id per distinct
    normalized text) joined back to recover their rows — the shape a
    training-data pipeline actually materializes. The join carries only
    (hash, keep_id), never text bodies."""
    d = read_table(spark, sf_dir, "documents")
    keep = exact_dedup(d, "doc_id", "text").select("keep_id")
    return (
        d.join(keep, d.doc_id == keep.keep_id, "left_semi")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum(F.length("text")).alias("kept_chars"),
        )
    )


ORACLE_DEDUP_SURVIVORS = rf"""
WITH keep AS (
  SELECT min(doc_id) AS keep_id FROM documents
  GROUP BY md5({SQL_NORM})
)
SELECT lang, count(*) AS n_kept, cast(sum(length(text)) AS bigint) AS kept_chars
FROM documents WHERE doc_id IN (SELECT keep_id FROM keep)
GROUP BY lang
"""


def q_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters: top-20 tokens, exact strategy (one partial-agg'd
    groupBy — the scale path for bounded vocabularies; the Misra-Gries
    sketch variant in textstats/heavy_hitters.py covers vocabularies too
    large for per-partition hash aggregation and is recall-tested in
    tests/test_llm_ops.py)."""
    from ..textstats.heavy_hitters import top_k_tokens

    d = read_table(spark, sf_dir, "documents")
    return top_k_tokens(d, "text", k=20)


ORACLE_TOP_TOKENS = rf"""
WITH t AS (SELECT unnest({SQL_TOKS}) AS token FROM documents)
SELECT token, count(*) AS cnt FROM t WHERE token != ''
GROUP BY token ORDER BY cnt DESC, token ASC LIMIT 20
"""


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → connected components → one survivor per cluster
    (dedup/clusters.py). Every document gets (cluster_id, cluster_size,
    is_survivor); filtering is_survivor yields the deduplicated corpus."""
    from ..dedup.clusters import dup_clusters

    d = read_table(spark, sf_dir, "documents")
    pairs = minhash_near_dup_pairs(
        d, "doc_id", "text", num_perm=16, bands=4, shingle_n=2, threshold=0.5
    )
    return dup_clusters(d, pairs, "doc_id")


def q_dedup_best_survivor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked dedup survivors (dedup/clusters.py::
    quality_survivors): per multi-doc near-dup cluster keep the LONGEST
    copy (score = n_chars; ties → min id) instead of the min-id copy —
    the selection a curation pipeline actually wants. Same verified
    MinHash pair set as doc_dup_clusters."""
    from ..dedup.clusters import quality_survivors

    d = read_table(spark, sf_dir, "documents")
    pairs = minhash_near_dup_pairs(
        d, "doc_id", "text", num_perm=16, bands=4, shingle_n=2, threshold=0.5
    )
    return quality_survivors(d, pairs, "doc_id", "n_chars")


def _oracle_best_survivor() -> str:
    return rf"""
WITH RECURSIVE pairs AS ({_oracle_minhash()}),
edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
          UNION SELECT doc_b AS u, doc_a AS v FROM pairs),
reach(node, lbl) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.node
),
cc AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node),
members AS (
  SELECT cc.cluster_id, d.doc_id, CAST(d.n_chars AS BIGINT) AS score
  FROM documents d JOIN cc ON d.doc_id = cc.node
),
ranked AS (
  SELECT *, row_number() OVER
    (PARTITION BY cluster_id ORDER BY score DESC, doc_id ASC) AS rk,
    count(*) OVER (PARTITION BY cluster_id) AS cluster_size
  FROM members
)
SELECT cluster_id, doc_id AS survivor_id, cluster_size,
       score AS survivor_score
FROM ranked WHERE rk = 1
"""


def _oracle_dup_clusters() -> str:
    """Transitive-closure min-label via recursive CTE over the SAME
    verified pair set as doc_minhash_pairs (nested WITH)."""
    return rf"""
WITH RECURSIVE pairs AS ({_oracle_minhash()}),
edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
          UNION SELECT doc_b AS u, doc_a AS v FROM pairs),
reach(node, lbl) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.node
),
cc AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node),
labeled AS (SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS cluster_id
            FROM documents d LEFT JOIN cc ON d.doc_id = cc.node),
sizes AS (SELECT cluster_id, count(*) AS cluster_size
          FROM labeled GROUP BY cluster_id)
SELECT l.doc_id, l.cluster_id, s.cluster_size,
       (l.doc_id = l.cluster_id) AS is_survivor
FROM labeled l JOIN sizes s USING (cluster_id)
"""


BM25_TERMS = ("spark", "join", "window")
BM25_K1, BM25_B, BM25_TOPK = 1.2, 0.75, 10


def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-k retrieval (textstats/ranking.py): postings
    restricted to query terms before any shuffle, broadcast IDF."""
    from ..textstats.ranking import bm25_topk

    d = read_table(spark, sf_dir, "documents")
    return bm25_topk(
        d, list(BM25_TERMS), k1=BM25_K1, b=BM25_B, top_k=BM25_TOPK
    )


def _oracle_bm25(top_k: int = BM25_TOPK) -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_TERMS)
    return rf"""
WITH toks AS (SELECT doc_id, {SQL_TOKS} AS toks, {SQL_NORM} AS norm FROM documents),
lens AS (SELECT doc_id, CASE WHEN norm = '' THEN 0 ELSE len(toks) END AS dl FROM toks),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM lens),
exploded AS (SELECT doc_id, unnest(toks) AS token FROM toks),
posting AS (SELECT doc_id, token, count(*) AS tf FROM exploded
            WHERE token IN ({terms}) GROUP BY doc_id, token),
idf AS (SELECT token, ln(1 + (s.n_docs - n + 0.5)/(n + 0.5)) AS idf
        FROM (SELECT token, count(*) AS n FROM posting GROUP BY token), stats s),
scored AS (SELECT p.doc_id,
                  sum(i.idf * p.tf * ({BM25_K1} + 1)
                      / (p.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * l.dl / s.avgdl))) AS score
           FROM posting p JOIN idf i USING (token) JOIN lens l USING (doc_id), stats s
           GROUP BY p.doc_id)
SELECT doc_id, round(score, 6) AS bm25 FROM scored
ORDER BY bm25 DESC, doc_id ASC LIMIT {top_k}
"""


SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}
SPLIT_SALT = "split-v1"
STRATA_FRACTIONS = {"src0": 0.5, "src1": 0.25, "src2": 0.1}
STRATA_DEFAULT = 0.05
SAMPLE_SALT = "sample-v1"


def q_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/val/test split
    (operators/sampling.py::with_split) — per-(split, lang) counts."""
    from ..operators.sampling import with_split

    d = read_table(spark, sf_dir, "documents")
    return (
        with_split(d, "doc_id", SPLIT_WEIGHTS, salt=SPLIT_SALT)
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _oracle_split_counts() -> str:
    bucket = _sql_md5_64(f"'{SPLIT_SALT}' || cast(doc_id AS varchar)")
    return rf"""
WITH b AS (SELECT lang, {bucket} % 10000 AS bucket FROM documents)
SELECT CASE WHEN bucket < 8000 THEN 'train'
            WHEN bucket < 9000 THEN 'val' ELSE 'test' END AS split,
       lang, count(*) AS cnt
FROM b GROUP BY split, lang
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source deterministic sampling (stratified_hash_sample) —
    surviving count + char volume per source."""
    from ..operators.sampling import stratified_hash_sample

    d = read_table(spark, sf_dir, "documents")
    return (
        stratified_hash_sample(
            d,
            "doc_id",
            "source",
            STRATA_FRACTIONS,
            default_fraction=STRATA_DEFAULT,
            salt=SAMPLE_SALT,
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


def _oracle_stratified_sample() -> str:
    bucket = _sql_md5_64(f"'{SAMPLE_SALT}' || cast(doc_id AS varchar)")
    whens = " ".join(
        f"WHEN source = '{v}' THEN {round(f * 10000)}"
        for v, f in STRATA_FRACTIONS.items()
    )
    return rf"""
WITH b AS (SELECT source, n_chars, {bucket} % 10000 AS bucket FROM documents)
SELECT source, count(*) AS n_docs, cast(sum(n_chars) AS bigint) AS sum_chars
FROM b
WHERE bucket < (CASE {whens} ELSE {round(STRATA_DEFAULT * 10000)} END)
GROUP BY source
"""


def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → JSONL (sinks/files.py::write_jsonl) → read back with a
    PINNED schema (inference costs an extra pass and types drift) →
    per-lang aggregate. Oracle aggregates the original parquet, so the
    round trip must be lossless to hash-match."""
    import tempfile

    from ..sinks.files import write_jsonl
    from ..sources.batch import read_json

    d = read_table(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="jsonl_rt_")
    write_jsonl(d, out)
    back = read_json(
        spark,
        out,
        schema="doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(F.length("text")).alias("sum_text_len"),
    )


_ORACLE_JSONL_ROUNDTRIP = """
SELECT lang, count(*) AS n_docs,
       cast(sum(n_chars) AS bigint) AS sum_chars,
       cast(sum(length(text)) AS bigint) AS sum_text_len
FROM documents GROUP BY lang
"""


N_FRAMES = 4


def q_blob_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling over binary blobs: 1 row → N_FRAMES
    rows via mapInPandas (multimodal/blobs.py::sample_blob_frames).
    Fake decode = uniform byte ranges, so exactly SQL-checkable."""
    from ..multimodal.blobs import sample_blob_frames

    d = with_blob(read_table(spark, sf_dir, "documents"), "text")
    out = sample_blob_frames(d, "doc_id", "blob", n_frames=N_FRAMES)
    return out.select(
        F.col("id").alias("doc_id"), "frame_idx", "n_bytes", "frame_md5"
    )


def _oracle_blob_frames() -> str:
    """Byte offsets == char offsets because the corpus is ASCII (verified:
    octet_length(encode(text)) == length(text) for every sf0.01 row), so
    the oracle slices the VARCHAR directly."""
    return rf"""
WITH f AS (
  SELECT doc_id, i AS frame_idx,
         substring(text,
                   cast(i * length(text) // {N_FRAMES} AS int) + 1,
                   cast((i + 1) * length(text) // {N_FRAMES} AS int)
                     - cast(i * length(text) // {N_FRAMES} AS int)) AS frame
  FROM documents, generate_series(0, {N_FRAMES - 1}) AS t(i)
)
SELECT doc_id, cast(frame_idx AS int) AS frame_idx,
       cast(length(frame) AS bigint) AS n_bytes, md5(frame) AS frame_md5
FROM f
"""


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (textstats/analysis.py):
    distinct-2gram ratio (in-row, no shuffle) + top-2gram share."""
    from ..textstats.analysis import add_repetition_signals

    d = read_table(spark, sf_dir, "documents")
    return add_repetition_signals(d, "text", n=2).select(
        "doc_id", "n_ngrams", "distinct_ngram_ratio", "top_ngram_share"
    )


def _oracle_repetition() -> str:
    return rf"""
WITH tok AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
sh AS (SELECT doc_id,
              CASE WHEN len(toks) < 2 THEN [] ELSE {SQL_SHINGLES2} END AS shs
       FROM tok),
base AS (SELECT doc_id, cast(len(shs) AS bigint) AS n_ngrams,
                CASE WHEN len(shs) > 0
                     THEN round(len(list_distinct(shs)) / len(shs), 6)
                     ELSE 1.0 END AS distinct_ngram_ratio
         FROM sh),
per_gram AS (SELECT doc_id, g, count(*) AS c
             FROM (SELECT doc_id, unnest(shs) AS g FROM sh)
             GROUP BY doc_id, g),
top AS (SELECT doc_id, round(max(c) / sum(c), 6) AS top_ngram_share
        FROM per_gram GROUP BY doc_id)
SELECT b.doc_id, b.n_ngrams, b.distinct_ngram_ratio,
       coalesce(t.top_ngram_share, 0.0) AS top_ngram_share
FROM base b LEFT JOIN top t USING (doc_id)
"""


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass (textstats/cleaning.py): redact + count per type,
    aggregated per lang. Pure codegen'd projections — no shuffle before
    the final small aggregate."""
    from ..textstats.cleaning import scrub

    d = read_table(spark, sf_dir, "documents")
    s = scrub(d, "text")
    return s.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_email").alias("total_email"),
        F.sum("n_ipv4").alias("total_ipv4"),
        F.sum("n_phone").alias("total_phone"),
        F.sum(
            (F.md5("clean_text") != F.md5("text")).cast("bigint")
        ).alias("n_changed"),
    )


def _oracle_pii_scrub() -> str:
    from ..textstats.cleaning import PII_PATTERNS

    clean = "text"
    for name, pat in PII_PATTERNS.items():
        clean = f"regexp_replace({clean}, '{pat}', '[{name.upper()}]', 'g')"
    counts = ", ".join(
        f"cast(sum(len(regexp_extract_all(text, '{pat}'))) AS bigint) AS total_{name}"
        for name, pat in PII_PATTERNS.items()
    )
    return rf"""
SELECT lang, count(*) AS n_docs, {counts},
       cast(sum(CASE WHEN md5({clean}) != md5(text) THEN 1 ELSE 0 END) AS bigint)
         AS n_changed
FROM documents GROUP BY lang
"""


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-family quality score (textstats/analysis.py::add_unigram_logprob):
    per-doc mean log p(token) under the corpus unigram model."""
    from ..textstats.analysis import add_unigram_logprob

    d = read_table(spark, sf_dir, "documents")
    return add_unigram_logprob(d, "text")


_ORACLE_UNIGRAM = rf"""
WITH tok AS (SELECT doc_id, unnest({SQL_TOKS}) AS token FROM documents
             WHERE {SQL_NORM} != ''),
vocab AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
total AS (SELECT sum(cnt) AS n FROM vocab)
SELECT doc_id, count(*) AS n_tokens,
       round(avg(ln(cnt / n)), 6) AS avg_logprob
FROM tok JOIN vocab USING (token), total
GROUP BY doc_id
"""


QUALITY_MIN = 0.5


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation pipeline as ONE composed plan: PII scrub →
    quality score + filter → exact dedup (survivor = lowest doc_id per
    normalized content) → deterministic train/val/test split → per
    (split, lang) corpus accounting.

    Dedup survivor selection is a row_number window over content_hash —
    one shuffle — rather than exact_dedup + semi-join back, which would
    evaluate the scrub/quality subtree twice (once per join branch).
    Everything up to that window is a straight-line codegen'd projection
    chain, so the whole pipeline is: scan → narrow ops → 1 shuffle
    (window) → 1 shuffle (final small aggregate)."""
    from pyspark.sql import Window

    from ..functions.text import normalize_text
    from ..operators.sampling import with_split
    from ..textstats.analysis import add_quality_scores
    from ..textstats.cleaning import redact_pii

    d = read_table(spark, sf_dir, "documents")
    # persist = a hard materialization barrier: downstream quality/dedup
    # expressions reference the redacted text ~12 times, and Catalyst's
    # CollapseProject happily inlines the 3-regex redact chain into every
    # consumer (measured 5× the whole pipeline; neither attribute aliasing
    # nor an exchange stops the collapse — projects push through both).
    # At cluster scale this is the standard persist-the-narrow-projection
    # trade: 2 string columns, far smaller than re-running the regexes.
    scrubbed = d.select(
        "doc_id", "lang", redact_pii("text").alias("text")
    ).persist()
    scored = add_quality_scores(scrubbed, "text").filter(
        F.col("quality_score") >= QUALITY_MIN
    )
    w = Window.partitionBy(F.md5(normalize_text("text"))).orderBy("doc_id")
    survivors = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    labeled = with_split(survivors, "doc_id", SPLIT_WEIGHTS, salt=SPLIT_SALT)
    return labeled.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
    )


def _oracle_curation_pipeline() -> str:
    en = "[" + ", ".join(f"'{w}'" for w in STOPWORDS["en"]) + "]"
    clean = "text"
    from ..textstats.cleaning import PII_PATTERNS

    for name, pat in PII_PATTERNS.items():
        clean = f"regexp_replace({clean}, '{pat}', '[{name.upper()}]', 'g')"
    bucket = _sql_md5_64(f"'{SPLIT_SALT}' || cast(doc_id AS varchar)")
    return rf"""
WITH scrubbed AS (SELECT doc_id, lang, {clean} AS text FROM documents),
t AS (
  SELECT doc_id, lang, text, {SQL_TOKS} AS toks,
         length(text) AS n_chars,
         len({SQL_TOKS}) AS n_tokens,
         len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS punct_cnt
  FROM scrubbed
), r AS (
  SELECT doc_id, lang, text, n_tokens,
         CASE WHEN n_chars > 0 THEN punct_cnt * 1.0 / n_chars ELSE 0.0 END AS punct_ratio,
         CASE WHEN n_tokens > 0
              THEN len(list_filter(toks, x -> list_contains({en}, x))) * 1.0 / n_tokens
              ELSE 0.0 END AS stop_ratio
  FROM t
), scored AS (
  SELECT doc_id, lang, text, n_tokens
  FROM r
  WHERE round(0.4 * least(n_tokens / 100.0, 1.0)
            + 0.3 * (1.0 - least(punct_ratio * 5, 1.0))
            + 0.3 * least(stop_ratio * 3, 1.0), 6) >= {QUALITY_MIN}
), surv AS (
  SELECT doc_id, lang, n_tokens,
         row_number() OVER (PARTITION BY md5({SQL_NORM}) ORDER BY doc_id) AS rn
  FROM scored
), labeled AS (
  SELECT lang, n_tokens,
         CASE WHEN {bucket} % 10000 < 8000 THEN 'train'
              WHEN {bucket} % 10000 < 9000 THEN 'val' ELSE 'test' END AS split
  FROM surv WHERE rn = 1
)
SELECT split, lang, count(*) AS n_docs,
       cast(sum(n_tokens) AS bigint) AS sum_tokens
FROM labeled GROUP BY split, lang
"""


CHUNK_SIZE, CHUNK_OVERLAP = 32, 8


def q_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-embedding document chunking (functions/text.py::chunk_tokens):
    overlapping token windows, stride = size − overlap, exploded to one
    row per chunk. Pure codegen'd array ops — narrow until the caller
    aggregates."""
    from ..functions.text import chunk_tokens, tokenize

    d = read_table(spark, sf_dir, "documents")
    staged = d.select("doc_id", tokenize("text").alias("__toks"))
    chunks = staged.select(
        "doc_id",
        F.explode_outer(
            chunk_tokens("__toks", CHUNK_SIZE, CHUNK_OVERLAP)
        ).alias("c"),
    ).filter(F.col("c").isNotNull())
    return chunks.select(
        "doc_id",
        F.col("c.chunk_idx").alias("chunk_idx"),
        F.md5(F.col("c.chunk")).alias("chunk_md5"),
        F.size(F.split(F.col("c.chunk"), " ")).cast("bigint").alias("n_tokens"),
    )


def _oracle_chunks() -> str:
    stride = CHUNK_SIZE - CHUNK_OVERLAP
    return rf"""
WITH t AS (SELECT doc_id, {SQL_TOKS} AS toks, {SQL_NORM} AS norm FROM documents),
sized AS (SELECT doc_id, toks,
                 CASE WHEN norm = '' THEN 0 ELSE len(toks) END AS n FROM t),
idx AS (SELECT doc_id, toks,
               unnest(generate_series(0,
                 cast(ceil(greatest(n - {CHUNK_OVERLAP}, 1) * 1.0 / {stride}) AS int) - 1
               )) AS chunk_idx
        FROM sized WHERE n > 0),
c AS (SELECT doc_id, cast(chunk_idx AS int) AS chunk_idx,
             array_to_string(toks[chunk_idx * {stride} + 1 : chunk_idx * {stride} + {CHUNK_SIZE}], ' ') AS chunk
      FROM idx)
SELECT doc_id, chunk_idx, md5(chunk) AS chunk_md5,
       cast(len(string_split(chunk, ' ')) AS bigint) AS n_tokens
FROM c
"""


DECONTAM_MOD = 50  # doc_id % MOD == 0 → the synthetic benchmark/holdout set
DECONTAM_N = 3


def q_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (textstats/decontam.py): corpus docs vs
    the synthetic holdout (doc_id % DECONTAM_MOD == 0), 3-gram overlap,
    broadcast benchmark shingle set — aggregated per lang."""
    from ..textstats.decontam import contamination_stats

    d = read_table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % DECONTAM_MOD == 0)
    corpus = d.filter(F.col("doc_id") % DECONTAM_MOD != 0)
    per_doc = contamination_stats(
        corpus, bench, "doc_id", "text", n=DECONTAM_N, carry=["lang"]
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("n_contaminated") > 0).cast("bigint")).alias(
            "n_contaminated_docs"
        ),
        F.sum("n_shingles").alias("total_shingles"),
        F.sum("n_contaminated").alias("total_contaminated"),
    )


def _oracle_decontam(mod: int = DECONTAM_MOD, n: int = DECONTAM_N) -> str:
    shingles_n = (
        f"[array_to_string(toks[i:i+{n - 1}], ' ') "
        f"for i in generate_series(1, len(toks)-{n - 1})]"
    )
    return rf"""
WITH bench_t AS (SELECT {SQL_TOKS} AS toks FROM documents WHERE doc_id % {mod} = 0),
bench AS (SELECT DISTINCT {_sql_md5_64('s')} AS h
          FROM (SELECT unnest(list_distinct({shingles_n})) AS s
                FROM bench_t WHERE len(toks) >= {n})),
corpus AS (SELECT doc_id, lang,
                  CASE WHEN len(toks) < {n} THEN []
                       ELSE list_distinct({shingles_n}) END AS shs
           FROM (SELECT doc_id, lang, {SQL_TOKS} AS toks FROM documents
                 WHERE doc_id % {mod} != 0)),
exploded AS (SELECT doc_id, {_sql_md5_64('s')} AS h
             FROM (SELECT doc_id, unnest(shs) AS s FROM corpus)),
hits AS (SELECT e.doc_id, count(*) AS n_cont
         FROM exploded e JOIN bench b USING (h) GROUP BY e.doc_id),
per AS (SELECT c.doc_id, c.lang, len(c.shs) AS n_shingles,
               coalesce(h.n_cont, 0) AS n_cont
        FROM corpus c LEFT JOIN hits h USING (doc_id))
SELECT lang, count(*) AS n_docs,
       cast(sum(CASE WHEN n_cont > 0 THEN 1 ELSE 0 END) AS bigint) AS n_contaminated_docs,
       cast(sum(n_shingles) AS bigint) AS total_shingles,
       cast(sum(n_cont) AS bigint) AS total_contaminated
FROM per GROUP BY lang
"""


PASSAGE_W = 8


def q_dup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level dedup signals (dedup/passages.py): per doc, how many
    of its distinct 8-token windows also occur in another document."""
    from ..dedup.passages import dup_passage_stats

    d = read_table(spark, sf_dir, "documents")
    return dup_passage_stats(d, "doc_id", "text", window=PASSAGE_W)


def _oracle_dup_passages(w: int = PASSAGE_W) -> str:
    shingles_w = (
        f"[array_to_string(toks[i:i+{w - 1}], ' ') "
        f"for i in generate_series(1, len(toks)-{w - 1})]"
    )
    return rf"""
WITH t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
w AS (SELECT doc_id, CASE WHEN len(toks) < {w} THEN []
                          ELSE list_distinct({shingles_w}) END AS ws
      FROM t),
e AS (SELECT doc_id, {_sql_md5_64('s')} AS h
      FROM (SELECT doc_id, unnest(ws) AS s FROM w)),
rec AS (SELECT h FROM e GROUP BY h HAVING count(*) >= 2),
dup AS (SELECT e.doc_id, count(*) AS n_dup FROM e JOIN rec USING (h)
        GROUP BY e.doc_id),
per AS (SELECT w.doc_id, len(w.ws) AS n_windows, coalesce(d.n_dup, 0) AS n_dup
        FROM w LEFT JOIN dup d USING (doc_id))
SELECT doc_id, cast(n_windows AS bigint) AS n_windows,
       cast(n_dup AS bigint) AS n_dup_windows,
       CASE WHEN n_windows > 0 THEN round(n_dup * 1.0 / n_windows, 6)
            ELSE 0.0 END AS dup_fraction
FROM per
"""


def q_evt_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score outliers per event_type: per-type mean/stddev are a tiny
    aggregate broadcast back onto the fact stream (never a window over
    the full table — the stats frame is |event types| rows). Z rounded
    to 6 dp before thresholding so the oracle's float path agrees."""
    e = read_table(spark, sf_dir, "events")
    stats = F.broadcast(
        e.groupBy("event_type").agg(
            F.avg("value").alias("mu"),
            F.stddev_pop("value").alias("sigma"),
        )
    )
    z = F.round(F.abs(F.col("value") - F.col("mu")) / F.col("sigma"), 6)
    return (
        e.join(stats, "event_type")
        .withColumn("z", z)
        .filter(F.col("z") > 3.0)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_anomalies"),
            F.round(F.max("z"), 6).alias("max_z"),
        )
    )


_ORACLE_EVT_ANOMALIES = """
WITH stats AS (
  SELECT event_type, avg(value) AS mu, stddev_pop(value) AS sigma
  FROM events GROUP BY event_type
),
z AS (
  SELECT e.event_type, round(abs(e.value - s.mu) / s.sigma, 6) AS z
  FROM events e JOIN stats s USING (event_type)
)
SELECT event_type, count(*) AS n_anomalies, round(max(z), 6) AS max_z
FROM z WHERE z > 3.0 GROUP BY event_type
"""


CMS_PROBES = ["the", "table", "spark", "value", "row", "zzz_absent"]


def q_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch token frequencies per language: sketches built by
    the JVM-side mergeable aggregate (shuffle payload = sketch bytes per
    group, never the token stream), probed driver-side for a fixed token
    list. Oracled with exact counts: at width 10^4 vs a few-hundred-token
    vocab an all-depth collision is structurally absent (see
    ORACLE_CMS_COUNTS comment), so estimates are deterministically exact
    here; the sketch's approximate regime (narrow sketch, est bounded by
    exact + eps*N) is pinned separately in tests/test_llm_ops.py."""
    from ..functions.text import tokenize
    from ..textstats.cms import build_token_sketches, estimate_counts

    d = read_table(spark, sf_dir, "documents")
    toks = d.select(
        "lang", F.explode(tokenize("text")).alias("tok")
    )
    sk = build_token_sketches(toks, "lang", "tok", eps=0.0002)
    return estimate_counts(spark, sk, "lang", CMS_PROBES)


# CMS oracle: exact counts. Honest for the same reason the GK-percentile
# oracle is: a probe only over-counts if it collides in EVERY depth row,
# and with width = ceil(2/eps) = 10^4 buckets against this corpus's
# few-hundred-token vocab that probability is (vocab/width)^depth ≈ 1e-7
# — structurally absent at oracle scale, so est_count == exact count
# deterministically. The sketch's approximate regime (narrow sketch,
# est bounded by exact + eps·N) is pinned separately in
# tests/test_llm_ops.py.
_probe_list = ", ".join(f"('{p}')" for p in CMS_PROBES)
ORACLE_CMS_COUNTS = rf"""
WITH t AS (SELECT lang, unnest({SQL_TOKS}) AS tok FROM documents),
probes(item) AS (VALUES {_probe_list}),
groups AS (SELECT DISTINCT lang FROM documents),
exact AS (SELECT lang, tok, count(*) AS c FROM t GROUP BY 1, 2),
totals AS (SELECT lang, count(*) AS n_items FROM t GROUP BY 1)
SELECT g.lang, p.item,
       coalesce(e.c, 0) AS est_count,
       tt.n_items
FROM groups g
CROSS JOIN probes p
LEFT JOIN exact e ON e.lang = g.lang AND e.tok = p.item
JOIN totals tt ON tt.lang = g.lang
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing (concat-then-chunk, operators/packing.py):
    documents become positions in 8 independent shard token-streams cut
    every 512 tokens (token proxy: n_chars div 4). One window cumsum per
    shard — shard count is the parallelism knob; no global sort."""
    from ..operators.packing import pack_sequences

    d = read_table(spark, sf_dir, "documents")
    base = d.select("doc_id", F.expr("n_chars div 4").alias("n_toks"))
    return pack_sequences(base, "doc_id", "n_toks", budget=512, n_shards=8)


def _oracle_pack_sequences() -> str:
    from ..operators.packing import pack_sequences_oracle

    return pack_sequences_oracle(budget=512, n_shards=8)


def q_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened source mixing (alpha=0.5): per-source
    sampling weights and keep fractions for a 1000-doc budget. The
    source-count aggregate is tiny; everything else is arithmetic."""
    from ..operators.packing import mixture_fractions

    d = read_table(spark, sf_dir, "documents")
    return mixture_fractions(d, "source", alpha=0.5, target_rows=1000)


ORACLE_SOURCE_MIXTURE = """
WITH counts AS (SELECT source, count(*) AS n_rows FROM documents GROUP BY source),
tot AS (SELECT sum(pow(n_rows, 0.5)) AS total_w FROM counts)
SELECT source, n_rows,
       round(pow(n_rows, 0.5) / total_w, 9) AS weight,
       round(least(1.0, 1000 * (pow(n_rows, 0.5) / total_w) / n_rows), 9) AS fraction
FROM counts CROSS JOIN tot
"""


def q_upsample_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Low-resource repeat-upsampling: non-English docs appear twice
    (epoch 1..2), English once; aggregated to (lang, epoch) doc + char
    mass. The explode is a narrow 1-to-N map — no shuffle until the
    final small aggregate."""
    from ..operators.packing import upsample_repeats

    d = read_table(spark, sf_dir, "documents")
    reps = F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(2))
    up = upsample_repeats(d.withColumn("reps", reps), "doc_id", "reps")
    return up.groupBy("lang", "epoch").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )


ORACLE_UPSAMPLE_EPOCHS = """
WITH reps AS (
  SELECT *, CASE WHEN lang = 'en' THEN 1 ELSE 2 END AS reps FROM documents
), up AS (
  SELECT r.lang, r.n_chars, gs.epoch
  FROM reps r, LATERAL (SELECT unnest(generate_series(1, r.reps)) AS epoch) gs
)
SELECT lang, CAST(epoch AS INT) AS epoch, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM up GROUP BY 1, 2
"""


def q_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle, sharded
    (operators/layout.py::shuffle_shards): md5 rank → shard = rank %
    n_shards → per-shard position. One hash shuffle + per-shard local
    sort — the scalable form of ORDER BY rand() for writing shuffled
    training shards; reproducible across re-partitioning and corpus
    growth because the order key depends only on (salt, id)."""
    from ..operators.layout import shuffle_shards

    d = read_table(spark, sf_dir, "documents")
    return shuffle_shards(d, "doc_id", salt="shuffle-v1", n_shards=8).select(
        "doc_id", "shard", "pos"
    )


ORACLE_SHUFFLE_SHARDS = f"""
WITH keyed AS (
  SELECT doc_id,
         {_sql_md5_64("concat('shuffle-v1', CAST(doc_id AS VARCHAR))")} AS key
  FROM documents
)
SELECT doc_id, CAST(key % 8 AS INT) AS shard,
       CAST(row_number() OVER (PARTITION BY key % 8 ORDER BY key, doc_id) AS BIGINT) AS pos
FROM keyed
"""


_DECILE_FRACS = [i / 10 for i in range(1, 10)]


def q_length_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum/length binning without a global sort: `ntile(10)` needs
    one total-order sort over a SINGLE partition — a non-starter at
    100 TB — so instead (the scalable histogram-equalization pattern):
    pass 1 computes the 9 exact decile boundaries as a tiny aggregate
    (9 doubles to the driver), pass 2 buckets every row against the
    broadcast boundary literals inside whole-stage codegen. Ties at a
    boundary bucket identically in both engines because both compare
    against the same 6-dp-rounded literals (F.percentile ≡
    quantile_cont, same interpolation)."""
    d = read_table(spark, sf_dir, "documents")
    chars = F.col("n_chars").cast("double")
    bounds = d.select(
        F.percentile(chars, F.array(*[F.lit(p) for p in _DECILE_FRACS])).alias("b")
    ).first()["b"]
    # empty corpus → no boundaries → everything lands in bucket 1
    bounds = [round(float(b), 6) for b in bounds or []]
    bucket = F.lit(1)
    for b in bounds:
        bucket = bucket + F.when(chars > F.lit(b), 1).otherwise(0)
    return (
        d.withColumn("bucket", bucket.cast("int"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
            F.round(F.avg(chars), 6).alias("avg_chars"),
        )
    )


def _oracle_length_curriculum() -> str:
    fracs = ", ".join(str(p) for p in _DECILE_FRACS)
    cases = " + ".join(
        f"(CASE WHEN CAST(d.n_chars AS DOUBLE) > round(bs[{i + 1}], 6) "
        "THEN 1 ELSE 0 END)"
        for i in range(9)
    )
    return f"""
WITH bounds AS (
  SELECT quantile_cont(CAST(n_chars AS DOUBLE), [{fracs}]) AS bs FROM documents
),
bucketed AS (
  SELECT d.n_chars, CAST(1 + {cases} AS INT) AS bucket
  FROM documents d, bounds
)
SELECT bucket, count(*) AS n_docs,
       CAST(min(n_chars) AS BIGINT) AS min_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars,
       round(avg(CAST(n_chars AS DOUBLE)), 6) AS avg_chars
FROM bucketed GROUP BY bucket
"""


def q_nfc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization (textstats/cleaning.py::nfc_normalize —
    Arrow-batched Pandas UDF; Spark has no built-in normalizer). The
    corpus is ASCII, so the query first derives a decomposed variant
    in-plan (every 'e' → 'e' + U+0301 combining acute, same expression
    both engines) and then proves the normalizer composes it back:
    per-lang codepoint counts before/after NFC + changed-doc count.
    DuckDB's utf8proc `nfc_normalize` is the cross-engine twin."""
    from ..textstats.cleaning import nfc_normalize

    d = read_table(spark, sf_dir, "documents")
    # NB: Spark's chr() is ASCII-mod-256 (chr(769) → \x01), unlike
    # DuckDB's codepoint chr(769) = U+0301 — so build the combining
    # acute as a unicode literal here and keep chr(769) in the SQL.
    decomposed = F.replace(F.col("text"), F.lit("e"), F.lit("e\u0301"))
    out = d.withColumn("deco", decomposed).withColumn(
        "norm", nfc_normalize(F.col("deco"))
    )
    return out.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("deco")).alias("len_decomposed"),
        F.sum(F.length("norm")).alias("len_nfc"),
        F.sum(F.when(F.col("norm") != F.col("deco"), 1).otherwise(0)).alias(
            "n_changed"
        ),
    )


ORACLE_NFC_NORMALIZE = """
WITH t AS (
  SELECT lang, replace(text, 'e', 'e' || chr(769)) AS deco FROM documents
),
n AS (SELECT lang, deco, nfc_normalize(deco) AS norm FROM t)
SELECT lang, count(*) AS n_docs,
       CAST(sum(length(deco)) AS BIGINT) AS len_decomposed,
       CAST(sum(length(norm)) AS BIGINT) AS len_nfc,
       CAST(sum(CASE WHEN norm <> deco THEN 1 ELSE 0 END) AS BIGINT) AS n_changed
FROM n GROUP BY lang
"""


def q_markup_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate removal (textstats/cleaning.py::strip_markup).
    The corpus is plain text, so BOTH engines first synthesize the same
    deterministic markup (wrap each doc in a div/p shell, bold every
    'table', entity-encode quotes around every 'value') and then strip
    it — a genuine differential test of tag-removal + entity-decode +
    whitespace-collapse semantics, not an identity pass. Narrow codegen'd
    projection, zero shuffle, linear at any corpus size."""
    from ..textstats.cleaning import MARKUP_TAG_RE, strip_markup

    d = read_table(spark, sf_dir, "documents")
    marked = F.concat(
        F.lit('<div id="'),
        F.col("doc_id").cast("string"),
        F.lit('"><p>'),
        F.regexp_replace(
            F.regexp_replace(F.col("text"), "table", "<b>table</b>"),
            "value",
            "&quot;value&quot;",
        ),
        F.lit("</p></div>"),
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(marked, F.lit(MARKUP_TAG_RE), 0))
        .cast("bigint")
        .alias("n_tags"),
        F.length(strip_markup(marked)).cast("bigint").alias("clean_len"),
        F.md5(strip_markup(marked)).alias("clean_md5"),
    )


ORACLE_MARKUP_STRIP = r"""
WITH marked AS (
  SELECT doc_id,
         '<div id="' || CAST(doc_id AS VARCHAR) || '"><p>' ||
         regexp_replace(regexp_replace(text, 'table', '<b>table</b>', 'g'),
                        'value', '&quot;value&quot;', 'g') ||
         '</p></div>' AS html
  FROM documents
), stripped AS (
  SELECT doc_id, html,
         trim(regexp_replace(
           regexp_replace(
           regexp_replace(
           regexp_replace(
           regexp_replace(
           regexp_replace(
           regexp_replace(
           regexp_replace(html, '<[^>]+>', ' ', 'g'),
                          '&lt;', '<', 'g'),
                          '&gt;', '>', 'g'),
                          '&quot;', '"', 'g'),
                          '&#39;', '''', 'g'),
                          '&apos;', '''', 'g'),
                          '&nbsp;', ' ', 'g'),
                          '&amp;', '&', 'g')) AS clean0
  FROM marked
)
SELECT doc_id,
       CAST(len(regexp_extract_all(html, '<[^>]+>')) AS bigint) AS n_tags,
       CAST(length(regexp_replace(clean0, '\s+', ' ', 'g')) AS bigint) AS clean_len,
       md5(regexp_replace(clean0, '\s+', ' ', 'g')) AS clean_md5
FROM stripped
"""


def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram (token) Shannon entropy — the lexical-
    diversity quality signal (repetitive/boilerplate docs score low,
    used alongside the Gopher repetition gates). Computed IN-ROW with
    codegen'd/higher-order array ops: entropy = log2(n) - sum(c*log2(c))/n
    over per-token counts, no explode, no shuffle — a narrow projection
    that scales linearly. The count array is sorted before the fold so
    the float summation order is engine-independent (same convention as
    the oracle's list_sort)."""
    from ..functions.text import tokenize

    d = read_table(spark, sf_dir, "documents")
    staged = d.repartition(
        spark.sparkContext.defaultParallelism
    ).select("doc_id", tokenize("text").alias("__toks"))
    # materialize __dis as a bound column: HOF expression args are
    # re-evaluated per lambda invocation (see functions/text.py lesson)
    staged = staged.select(
        "doc_id", "__toks", F.array_distinct("__toks").alias("__dis")
    )
    counts = F.array_sort(
        F.transform(
            F.col("__dis"),
            lambda t: F.size(F.filter(F.col("__toks"), lambda x: x == t)),
        )
    )
    n = F.size("__toks")
    sum_clogc = F.aggregate(
        counts,
        F.lit(0.0),
        lambda acc, c: acc + c.cast("double") * F.log2(c.cast("double")),
    )
    ent = F.when(n > 0, F.log2(n.cast("double")) - sum_clogc / n).otherwise(
        F.lit(0.0)
    )
    return staged.select(
        "doc_id",
        n.cast("bigint").alias("n_tokens"),
        F.size("__dis").cast("bigint").alias("n_distinct"),
        (F.floor(ent * 1e6 + F.lit(0.5)) / 1e6).alias("token_entropy"),
    )


ORACLE_TOKEN_ENTROPY = rf"""
WITH t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, len(toks) AS n,
             list_sort([len(list_filter(toks, x -> x = u))
                        for u in list_distinct(toks)]) AS cnts
      FROM t)
SELECT doc_id, CAST(n AS bigint) AS n_tokens,
       CAST(len(cnts) AS bigint) AS n_distinct,
       floor((CASE WHEN n > 0
                   THEN log2(n) - coalesce(list_sum([c * log2(c) for c in cnts]), 0) / n
                   ELSE 0.0 END) * 1e6 + 0.5) / 1e6 AS token_entropy
FROM s
"""


INCR_MOD = 10  # doc_id % MOD == 0 → the synthetic "incoming batch"
INCR_N = 5
INCR_THRESHOLD = 0.5


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion gate (dedup/incremental.py): classify the
    synthetic incoming batch (doc_id % INCR_MOD == 0) against the rest of
    the corpus as exact / near (>=50% 5-shingle containment) / new.
    Corpus hash sets are shuffle-joined, never broadcast — the batch-vs-
    100 TB-corpus shape."""
    from ..dedup.incremental import incremental_dedup

    d = read_table(spark, sf_dir, "documents")
    incoming = d.filter(F.col("doc_id") % INCR_MOD == 0)
    corpus = d.filter(F.col("doc_id") % INCR_MOD != 0)
    return incremental_dedup(
        corpus, incoming, "doc_id", "text", n=INCR_N, near_threshold=INCR_THRESHOLD
    )


def _oracle_incremental_dedup(
    mod: int = INCR_MOD, n: int = INCR_N, thr: float = INCR_THRESHOLD
) -> str:
    shingles_n = (
        f"[array_to_string(toks[i:i+{n - 1}], ' ') "
        f"for i in generate_series(1, len(toks)-{n - 1})]"
    )
    return rf"""
WITH inc AS (SELECT doc_id, md5({SQL_NORM}) AS ch, {SQL_TOKS} AS toks
             FROM documents WHERE doc_id % {mod} = 0),
corp_ch AS (SELECT DISTINCT md5({SQL_NORM}) AS ch
            FROM documents WHERE doc_id % {mod} != 0),
exacts AS (SELECT doc_id FROM inc JOIN corp_ch USING (ch)),
rem_sh AS (SELECT doc_id,
                  CASE WHEN len(toks) < {n} THEN []
                       ELSE list_distinct({shingles_n}) END AS shs
           FROM inc WHERE doc_id NOT IN (SELECT doc_id FROM exacts)),
expl AS (SELECT doc_id, {_sql_md5_64('s')} AS h
         FROM (SELECT doc_id, unnest(shs) AS s FROM rem_sh)),
corp_sh AS (SELECT DISTINCT {_sql_md5_64('s')} AS h
            FROM (SELECT unnest(list_distinct({shingles_n})) AS s
                  FROM (SELECT {SQL_TOKS} AS toks FROM documents
                        WHERE doc_id % {mod} != 0)
                  WHERE len(toks) >= {n})),
hits AS (SELECT e.doc_id, count(*) AS n_overlap
         FROM expl e JOIN corp_sh USING (h) GROUP BY 1),
per AS (SELECT r.doc_id, len(r.shs) AS n_shingles,
               coalesce(h.n_overlap, 0) AS n_overlap
        FROM rem_sh r LEFT JOIN hits h USING (doc_id))
SELECT doc_id AS id, 'exact' AS status,
       CAST(0 AS bigint) AS n_shingles, CAST(0 AS bigint) AS n_overlap,
       0.0 AS containment
FROM exacts
UNION ALL
SELECT doc_id AS id,
       CASE WHEN n_shingles > 0 AND n_overlap * 1.0 / n_shingles >= {thr}
            THEN 'near' ELSE 'new' END AS status,
       CAST(n_shingles AS bigint) AS n_shingles,
       CAST(n_overlap AS bigint) AS n_overlap,
       floor(CASE WHEN n_shingles > 0 THEN n_overlap * 1.0 / n_shingles
                  ELSE 0.0 END * 1e6 + 0.5) / 1e6 AS containment
FROM per
"""


QUERIES: dict[str, QuerySpec] = {
    "doc_incremental_dedup": QuerySpec(
        q_incremental_dedup,
        _oracle_incremental_dedup(),
        "incremental batch-vs-corpus dedup gate (exact + shingle containment)",
    ),
    "doc_markup_strip": QuerySpec(
        q_markup_strip,
        ORACLE_MARKUP_STRIP,
        "HTML strip + entity decode + whitespace collapse (codegen'd)",
    ),
    "doc_token_entropy": QuerySpec(
        q_token_entropy,
        ORACLE_TOKEN_ENTROPY,
        "in-row unigram Shannon entropy (no explode, order-pinned fold)",
    ),
    "doc_shuffle_shards": QuerySpec(
        q_shuffle_shards,
        ORACLE_SHUFFLE_SHARDS,
        "deterministic sharded training-order shuffle (md5 rank)",
    ),
    "doc_length_curriculum": QuerySpec(
        q_length_curriculum,
        _oracle_length_curriculum(),
        "decile curriculum binning via broadcast boundaries (no global sort)",
    ),
    "doc_nfc_normalize": QuerySpec(
        q_nfc_normalize,
        ORACLE_NFC_NORMALIZE,
        "unicode NFC normalization (Pandas UDF ≡ DuckDB nfc_normalize)",
    ),
    "doc_pack_sequences": QuerySpec(
        q_pack_sequences,
        _oracle_pack_sequences(),
        "training-sequence packing (sharded concat-then-chunk cumsum)",
    ),
    "doc_source_mixture": QuerySpec(
        q_source_mixture,
        ORACLE_SOURCE_MIXTURE,
        "temperature mixture weights + per-source keep fractions",
    ),
    "doc_upsample_epochs": QuerySpec(
        q_upsample_epochs,
        ORACLE_UPSAMPLE_EPOCHS,
        "epoch-repeat upsampling of low-resource languages",
    ),
    "doc_weighted_sample": QuerySpec(
        q_weighted_sample,
        ORACLE_WEIGHTED_SAMPLE,
        "deterministic weighted sampling (A-ES keys, TakeOrdered top-k)",
    ),
    "doc_ngram_containment": QuerySpec(
        q_ngram_containment,
        ORACLE_NGRAM_CONTAINMENT,
        "asymmetric shingle containment (quote/subset dedup)",
    ),
    "doc_cms_counts": QuerySpec(
        q_cms_counts,
        ORACLE_CMS_COUNTS,
        "count-min sketch per-group frequency estimates (exact at this "
        "width/vocab ratio; sketch error regime pinned in pytest)",
    ),
    "doc_chunks": QuerySpec(
        q_chunks, _oracle_chunks(), "overlapping token-window chunking"
    ),
    "evt_anomalies": QuerySpec(
        q_evt_anomalies, _ORACLE_EVT_ANOMALIES, "z-score outliers, broadcast stats"
    ),
    "doc_curation_pipeline": QuerySpec(
        q_curation_pipeline,
        _oracle_curation_pipeline(),
        "composed scrub→quality→dedup→split pipeline",
    ),
    "doc_repetition": QuerySpec(
        q_repetition, _oracle_repetition(), "Gopher repetition signals"
    ),
    "doc_unigram_logprob": QuerySpec(
        q_unigram_logprob,
        _ORACLE_UNIGRAM,
        "unigram-LM quality score (mean log p)",
    ),
    "doc_pii_scrub": QuerySpec(
        q_pii_scrub, _oracle_pii_scrub(), "PII redaction scrub pass"
    ),
    "doc_blob_frames": QuerySpec(
        q_blob_frames, _oracle_blob_frames(), "1→N frame sampling over blobs"
    ),
    "doc_bm25_topk": QuerySpec(
        q_bm25, _oracle_bm25(), "Okapi BM25 top-k ranked retrieval"
    ),
    "doc_split_counts": QuerySpec(
        q_split_counts,
        _oracle_split_counts(),
        "deterministic hash train/val/test split",
    ),
    "doc_stratified_sample": QuerySpec(
        q_stratified_sample,
        _oracle_stratified_sample(),
        "per-stratum deterministic hash sampling",
    ),
    "doc_jsonl_roundtrip": QuerySpec(
        q_jsonl_roundtrip,
        _ORACLE_JSONL_ROUNDTRIP,
        "JSONL write→read round trip (schema pinned)",
    ),
    "doc_top_tokens": QuerySpec(
        q_top_tokens, ORACLE_TOP_TOKENS, "Misra-Gries sketch + exact verify"
    ),
    "doc_dedup_survivors": QuerySpec(
        q_dedup_survivors, ORACLE_DEDUP_SURVIVORS, "dedup survivors materialized"
    ),
    "doc_token_stats": QuerySpec(q_token_stats, ORACLE_TOKEN_STATS, "token counting"),
    "doc_exact_dedup": QuerySpec(q_exact_dedup, ORACLE_EXACT_DEDUP, "exact hash dedup"),
    "doc_minhash_pairs": QuerySpec(
        q_minhash_pairs, _oracle_minhash(), "MinHash-LSH near-dup, verified"
    ),
    "doc_dup_clusters": QuerySpec(
        q_dup_clusters,
        _oracle_dup_clusters(),
        "connected-components dup clusters + survivor per cluster",
    ),
    "doc_dedup_best_survivor": QuerySpec(
        q_dedup_best_survivor,
        _oracle_best_survivor(),
        "quality-ranked (longest-copy) survivor per dup cluster",
    ),
    "doc_simhash_pairs": QuerySpec(
        q_simhash_pairs, _oracle_simhash(), "SimHash banded near-dup"
    ),
    "doc_ngram_jaccard": QuerySpec(
        q_ngram_jaccard, ORACLE_NGRAM_JACCARD, "exact 2-gram Jaccard pairs"
    ),
    "doc_langid": QuerySpec(q_langid, _oracle_langid(), "stopword language-ID"),
    "doc_quality": QuerySpec(q_quality, _oracle_quality(), "quality scoring"),
    "doc_winnow_fp": QuerySpec(
        q_winnow_fp, _oracle_winnow(), "winnowing fingerprints"
    ),
    "doc_blob_meta": QuerySpec(q_blob_meta, ORACLE_BLOB_META, "binary column metadata"),
    "doc_blob_features": QuerySpec(
        q_blob_features,
        ORACLE_BLOB_FEATURES,
        "mapInPandas byte-feature decode (ascii-reduction oracle)",
    ),
    "doc_decontam": QuerySpec(
        q_decontam,
        _oracle_decontam(),
        "benchmark decontamination (3-gram overlap vs broadcast holdout)",
    ),
    "doc_dup_passages": QuerySpec(
        q_dup_passages,
        _oracle_dup_passages(),
        "duplicated-passage fraction per doc (8-token windows, no self-join)",
    ),
}


def q_mime_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-type dispatch (multimodal/blobs.py::sniff_mime): each doc
    is wrapped in a deterministic ASCII-safe container header by
    doc_id % 10 (GIF87a/89a, BM, P6, RIFF-WAVE, fLaC, OggS, ID3,
    offset-4 ftyp, none)
    and sniffed back from the MAGIC BYTES — counts per (source, mime).
    The oracle re-runs the same prefix decision on the string form
    (the corpus is ASCII so encode() is byte-identical), verifying the
    sniffer classifies by content, not by the doc_id rule. Narrow
    codegen'd projection + one partial-agg shuffle."""
    from ..multimodal.blobs import sniff_mime

    d = read_table(spark, sf_dir, "documents")
    marker = (
        F.when(F.col("doc_id") % 10 == 0, F.lit("GIF87a"))
        .when(F.col("doc_id") % 10 == 1, F.lit("BM"))
        .when(F.col("doc_id") % 10 == 2, F.lit("P6"))
        .when(F.col("doc_id") % 10 == 3, F.lit("RIFF1234WAVE"))
        .when(F.col("doc_id") % 10 == 4, F.lit("GIF89a"))
        .when(F.col("doc_id") % 10 == 5, F.lit("fLaC"))
        .when(F.col("doc_id") % 10 == 6, F.lit("OggS"))
        .when(F.col("doc_id") % 10 == 7, F.lit("ID3"))
        .when(F.col("doc_id") % 10 == 8, F.lit("xxxxftypisom"))
        .otherwise(F.lit(""))
    )
    blobbed = d.select(
        "source",
        F.encode(F.concat(marker, F.col("text")), "utf-8").alias("blob"),
    )
    return blobbed.select("source", sniff_mime("blob").alias("mime")).groupBy(
        "source", "mime"
    ).agg(F.count(F.lit(1)).alias("cnt"))


ORACLE_MIME_SNIFF = """
WITH marked AS (
  SELECT source,
         CASE WHEN doc_id % 10 = 0 THEN 'GIF87a'
              WHEN doc_id % 10 = 1 THEN 'BM'
              WHEN doc_id % 10 = 2 THEN 'P6'
              WHEN doc_id % 10 = 3 THEN 'RIFF1234WAVE'
              WHEN doc_id % 10 = 4 THEN 'GIF89a'
              WHEN doc_id % 10 = 5 THEN 'fLaC'
              WHEN doc_id % 10 = 6 THEN 'OggS'
              WHEN doc_id % 10 = 7 THEN 'ID3'
              WHEN doc_id % 10 = 8 THEN 'xxxxftypisom'
              ELSE '' END || text AS content
  FROM documents
)
SELECT source,
       CASE WHEN content LIKE 'GIF87a%' OR content LIKE 'GIF89a%'
              THEN 'image/gif'
            WHEN content LIKE 'BM%' THEN 'image/bmp'
            WHEN content LIKE 'P6%' THEN 'image/x-portable-pixmap'
            WHEN content LIKE 'fLaC%' THEN 'audio/flac'
            WHEN content LIKE 'OggS%' THEN 'audio/ogg'
            WHEN content LIKE 'ID3%' THEN 'audio/mpeg'
            WHEN content LIKE 'RIFF%' AND substring(content, 9, 4) = 'WAVE'
              THEN 'audio/wav'
            WHEN substring(content, 5, 4) = 'ftyp' THEN 'video/mp4'
            ELSE 'application/octet-stream' END AS mime,
       count(*) AS cnt
FROM marked GROUP BY 1, 2
"""


QUERIES["doc_mime_sniff"] = QuerySpec(
    q_mime_sniff,
    ORACLE_MIME_SNIFF,
    "magic-byte content-type dispatch over binary blobs",
)


def q_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: the verified MinHash near-dup
    pairs (same parameters as doc_minhash_pairs) rolled up to (source,
    source) — which corpora duplicate each other, and how hard. The pair
    table is tiny relative to the corpus, so the two provenance joins
    broadcast the doc→source projection onto it; sources are canonical-
    ordered (least/greatest) so A→B and B→A land in one cell."""
    d = read_table(spark, sf_dir, "documents")
    pairs = minhash_near_dup_pairs(
        d, "doc_id", "text", num_perm=16, bands=4, shingle_n=2, threshold=0.5
    )
    src = d.select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa"))
    sb = src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb"))
    tagged = pairs.join(F.broadcast(sa), "doc_a").join(F.broadcast(sb), "doc_b")
    return (
        tagged.select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            "jaccard",
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg("jaccard"), 6).alias("avg_jaccard"),
        )
    )


def _oracle_cross_source_dups() -> str:
    """Source rollup over the SAME verified pair set as
    doc_minhash_pairs (nested WITH)."""
    return f"""
WITH pairs AS ({_oracle_minhash()}),
tagged AS (
  SELECT least(da.source, db.source) AS source_a,
         greatest(da.source, db.source) AS source_b,
         p.jaccard
  FROM pairs p
  JOIN documents da ON p.doc_a = da.doc_id
  JOIN documents db ON p.doc_b = db.doc_id
)
SELECT source_a, source_b, count(*) AS n_pairs,
       round(avg(jaccard), 6) AS avg_jaccard
FROM tagged GROUP BY 1, 2
"""


QUERIES["doc_cross_source_dups"] = QuerySpec(
    q_cross_source_dups,
    _oracle_cross_source_dups(),
    "cross-source duplicate contamination matrix over verified MinHash pairs",
)


RRF_K = 60
RRF_DEPTH = 50
RRF_TOPK = 10


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via Reciprocal Rank Fusion: the BM25 lexical
    ranking (textstats/ranking.py) fused with a document-length prior,
    score = Σ 1/(60 + rank). RRF is the standard way to combine rankers
    with incomparable score scales (lexical + vector + prior) without
    tuning weights.

    Scale shape: each ranker is already top-`RRF_DEPTH` (TakeOrdered /
    inverted-index short lists), so the fusion join and the global
    row_number windows run on ≤2·depth rows — driver-trivial no matter
    the corpus size. Ranks come from ROUNDED scores with doc_id
    tie-break, so the fused frontier is cross-engine deterministic."""
    from ..textstats.ranking import bm25_topk
    from pyspark.sql import Window

    d = read_table(spark, sf_dir, "documents")
    bm = bm25_topk(d, list(BM25_TERMS), top_k=RRF_DEPTH)
    wa = Window.orderBy(F.desc("bm25"), "doc_id")
    ra = bm.select("doc_id", F.row_number().over(wa).alias("ra"))
    prior = (
        d.select("doc_id", "n_chars")
        .orderBy(F.desc("n_chars"), "doc_id")
        .limit(RRF_DEPTH)
    )
    wb = Window.orderBy(F.desc("n_chars"), "doc_id")
    rb = prior.select("doc_id", F.row_number().over(wb).alias("rb"))
    fused = ra.join(rb, "doc_id", "full_outer").select(
        "doc_id",
        F.round(
            F.coalesce(1.0 / (F.lit(RRF_K) + F.col("ra")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(RRF_K) + F.col("rb")), F.lit(0.0)),
            9,
        ).alias("rrf"),
    )
    return fused.orderBy(F.desc("rrf"), "doc_id").limit(RRF_TOPK)


def _oracle_rrf() -> str:
    return f"""
WITH bm AS ({_oracle_bm25(top_k=RRF_DEPTH)}),
ra AS (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS ra
       FROM bm),
rb AS (SELECT doc_id, row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rb
       FROM documents
       QUALIFY rb <= {RRF_DEPTH}),
fused AS (
  SELECT coalesce(ra.doc_id, rb.doc_id) AS doc_id,
         round(coalesce(1.0 / ({RRF_K} + ra.ra), 0)
               + coalesce(1.0 / ({RRF_K} + rb.rb), 0), 9) AS rrf
  FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id
)
SELECT doc_id, rrf FROM fused ORDER BY rrf DESC, doc_id LIMIT {RRF_TOPK}
"""


QUERIES["doc_rrf_fusion"] = QuerySpec(
    q_rrf_fusion,
    _oracle_rrf(),
    "reciprocal-rank fusion of BM25 + length prior (short-list-only joins)",
)


def q_audio_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral band-energy triage over blobs (multimodal/audio.py::
    audio_band_energy): text bytes stand in as u8 samples (the testdata
    has no WAV column; the REAL decode path is exercised in
    tests/test_audio.py), framed + FFT'd in one Arrow pass, then
    averaged per lang. Rows-only: FFT isn't SQL-expressible; NumPy
    parity is pinned by test_audio.py::test_band_energy_matches_numpy."""
    from ..multimodal.audio import audio_band_energy
    from ..multimodal.blobs import with_blob as _wb

    d = _wb(read_table(spark, sf_dir, "documents"), "text")
    feats = audio_band_energy(d, "doc_id", fake=True)
    langs = read_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return (
        feats.join(langs, feats.id == langs.doc_id)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("band0"), 4).alias("avg_band_lo"),
            F.round(F.avg("band7"), 4).alias("avg_band_hi"),
            F.round(F.avg("n_frames"), 4).alias("avg_frames"),
        )
    )


QUERIES["doc_audio_bands"] = QuerySpec(
    q_audio_bands,
    None,  # FFT band energies are not SQL-expressible; NumPy parity test
    "FFT band-energy spectral triage (Arrow mapInPandas; rows-only)",
)


EVAL_SAMPLE_MOD = 2
EVAL_SAMPLE_SALT = "eval:"


def _sql_expr_md5_mod(id_col: str):
    """md5-parity doc sample (engine-wide md5_64 convention): unlike id
    parity, a HASH sample decorrelates near-duplicate clusters (replica
    ids differ), so the sampled ground truth stays tractable even on
    replica-dense corpora."""
    from ..functions.text import md5_64

    return md5_64(
        F.concat(F.lit(EVAL_SAMPLE_SALT), F.col(id_col).cast("string"))
    ) % EVAL_SAMPLE_MOD


def q_dedup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine evaluating its own dedup: SimHash candidate pairs
    (hamming ≤ 5, banded) scored against ground truth = exact 2-gram
    Jaccard ≥ 0.5 pairs (the inverted-index exact op). Output is ONE
    row: tp/fp/fn + precision + recall — the quality dashboard a
    production dedup pipeline publishes next to its results.

    Protocol note: evaluation runs on a DETERMINISTIC md5-hash doc sample (the
    standard protocol — ground truth over the sampled sub-corpus is
    still exact for pairs within it). This bounds the exact-Jaccard
    ground-truth cost on replica-dense corpora, where the full-corpus
    posting join is the known quadratic-ish hot spot (that cost is the
    whole reason the production dedup path is MinHash-LSH; measured:
    the FULL-corpus exact op takes 243 s at 10x replica stress).
    Both pair queries are independently oracle-checked; here the
    COMPOSITION on the identical sample is oracled too."""
    from ..dedup.minhash import token_arrays

    d = read_table(spark, sf_dir, "documents").filter(
        _sql_expr_md5_mod("doc_id") == 0
    )
    # ONE tokenize pass over the sampled corpus (lazy localCheckpoint):
    # the truth leg shingles it, the prediction leg hashes its tokens —
    # previously each leg re-ran scan+filter+tokenize independently
    toks = token_arrays(d, "doc_id", "text").localCheckpoint(eager=False)
    truth = ngram_jaccard_pairs(
        d, "doc_id", "text", shingle_n=2, threshold=0.5, toks_df=toks
    ).select("doc_a", "doc_b", F.lit(1).alias("t"))
    pred = simhash_near_dup_pairs(
        d, "doc_id", "text", max_hamming=5, bands=6, toks_df=toks
    ).select("doc_a", "doc_b", F.lit(1).alias("p"))
    j = truth.join(pred, ["doc_a", "doc_b"], "full_outer")
    return j.agg(
        F.sum(F.when(F.col("t").isNotNull() & F.col("p").isNotNull(), 1)).alias("tp"),
        F.sum(F.when(F.col("t").isNull() & F.col("p").isNotNull(), 1)).alias("fp"),
        F.sum(F.when(F.col("t").isNotNull() & F.col("p").isNull(), 1)).alias("fn"),
        F.round(
            F.sum(F.when(F.col("t").isNotNull() & F.col("p").isNotNull(), 1))
            / F.sum(F.when(F.col("p").isNotNull(), 1)),
            6,
        ).alias("precision"),
        F.round(
            F.sum(F.when(F.col("t").isNotNull() & F.col("p").isNotNull(), 1))
            / F.sum(F.when(F.col("t").isNotNull(), 1)),
            6,
        ).alias("recall"),
    )


def _oracle_dedup_eval() -> str:
    pred = (
        f"cast(('0x' || substr(md5('{EVAL_SAMPLE_SALT}' || "
        f"cast(doc_id AS varchar)), 1, 15)) AS bigint) % {EVAL_SAMPLE_MOD} = 0"
    )
    sample = f"documents WHERE {pred}"
    truth_sql = ORACLE_NGRAM_JACCARD.replace("FROM documents", f"FROM {sample}")
    pred_sql = _oracle_simhash().replace("FROM documents", f"FROM {sample}")
    return f"""
WITH truth AS ({truth_sql}),
pred AS ({pred_sql}),
j AS (
  SELECT coalesce(t.doc_a, p.doc_a) AS doc_a,
         t.doc_a IS NOT NULL AS has_t, p.doc_a IS NOT NULL AS has_p
  FROM truth t FULL OUTER JOIN pred p
    ON t.doc_a = p.doc_a AND t.doc_b = p.doc_b
)
SELECT cast(sum(CASE WHEN has_t AND has_p THEN 1 END) AS BIGINT) AS tp,
       cast(sum(CASE WHEN NOT has_t AND has_p THEN 1 END) AS BIGINT) AS fp,
       cast(sum(CASE WHEN has_t AND NOT has_p THEN 1 END) AS BIGINT) AS fn,
       round(sum(CASE WHEN has_t AND has_p THEN 1 END) * 1.0
             / sum(CASE WHEN has_p THEN 1 END), 6) AS precision,
       round(sum(CASE WHEN has_t AND has_p THEN 1 END) * 1.0
             / sum(CASE WHEN has_t THEN 1 END), 6) AS recall
FROM j
"""


QUERIES["doc_dedup_eval"] = QuerySpec(
    q_dedup_eval,
    _oracle_dedup_eval(),
    "dedup self-evaluation: SimHash candidates vs exact-Jaccard truth "
    "(precision/recall, composition oracled)",
)


def q_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate pressure per source: share of documents whose
    normalized content hash appears more than once ANYWHERE in the
    corpus, attributed to each source — the first dashboard a curation
    pipeline ships (which feeds are echoing which). The hash-count table
    is corpus-sized, so it is NOT broadcast: per-hash multiplicity comes
    from one count window over the hash shuffle (same exchange a groupBy
    would pay, no join at all), then the source rollup is a tiny second
    aggregate."""
    from ..functions.text import normalize_text

    d = read_table(spark, sf_dir, "documents")
    hashed = d.select("source", F.md5(normalize_text("text")).alias("h"))
    wc = Window.partitionBy("h")
    tagged = hashed.select(
        "source", (F.count(F.lit(1)).over(wc) > 1).cast("int").alias("dup")
    )
    return tagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dup").alias("n_dup_docs"),
        F.round(F.sum("dup") / F.count(F.lit(1)), 6).alias("dup_rate"),
    )


ORACLE_DUP_RATE = f"""
WITH hashed AS (
  SELECT source, md5({SQL_NORM}) AS h FROM documents
),
counts AS (SELECT h, count(*) AS c FROM hashed GROUP BY h)
SELECT source, count(*) AS n_docs,
       cast(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
       round(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
         AS dup_rate
FROM hashed JOIN counts USING (h)
GROUP BY source
"""


QUERIES["doc_dup_rate_by_source"] = QuerySpec(
    q_dup_rate_by_source,
    ORACLE_DUP_RATE,
    "exact-duplicate pressure per source (corpus hash counts broadcast)",
)


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty, rolled up per lang: the share of a
    doc's distinct 2-gram shingles that occur in NO other document —
    the inverse of the containment signal, used to rank training docs by
    how much genuinely new text they contribute (templated/boilerplate
    corpora score low).

    Scale shape: the exploded distinct (doc, shingle) frame gets its
    document frequency from ONE count-window over the shingle-keyed
    shuffle (the doc_dup_rate_by_source pattern — no corpus-sized
    broadcast, no self-join), then reduces back to per-doc and per-lang
    aggregates. Per-doc ratios round to 6 dp before averaging (4 dp) so
    accumulation order can't flip the hash."""
    from ..dedup.minhash import _explode_shingles, _shingle_sets

    d = read_table(spark, sf_dir, "documents")
    sh = _explode_shingles(_shingle_sets(d, "doc_id", "text", 2))
    w_sh = Window.partitionBy("shingle")
    flagged = sh.select(
        "doc_id",
        (F.count(F.lit(1)).over(w_sh) == 1).cast("int").alias("uniq"),
    )
    per_doc = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_sh"),
        F.sum("uniq").alias("n_uniq"),
    )
    langs = d.select("doc_id", "lang")
    return (
        per_doc.join(langs, "doc_id")
        .select(
            "lang",
            F.round(F.col("n_uniq") / F.col("n_sh"), 6).alias("novelty"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("novelty"), 4).alias("avg_novelty"),
            F.round(F.min("novelty"), 6).alias("min_novelty"),
        )
    )


ORACLE_NGRAM_NOVELTY = f"""
WITH t AS (SELECT doc_id, lang, {SQL_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, lang, unnest(list_distinct({SQL_SHINGLES2})) AS shingle
      FROM t WHERE len(toks) >= 2),
flagged AS (
  SELECT doc_id, lang,
         CASE WHEN count(*) OVER (PARTITION BY shingle) = 1
              THEN 1 ELSE 0 END AS uniq
  FROM s
),
per_doc AS (
  SELECT doc_id, lang, count(*) AS n_sh,
         cast(sum(uniq) AS BIGINT) AS n_uniq
  FROM flagged GROUP BY 1, 2
)
SELECT lang, count(*) AS n_docs,
       round(avg(round(n_uniq * 1.0 / n_sh, 6)), 4) AS avg_novelty,
       round(min(round(n_uniq * 1.0 / n_sh, 6)), 6) AS min_novelty
FROM per_doc GROUP BY lang
"""


QUERIES["doc_ngram_novelty"] = QuerySpec(
    q_ngram_novelty,
    ORACLE_NGRAM_NOVELTY,
    "per-doc unique-shingle novelty share per lang (count-window, no self-join)",
)


PNG_FEAT_IDS = 300  # bound the verified image set


def q_png_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image-codec pass, oracled: per doc (doc_id < 300) the query
    synthesizes a deterministic RGB image (pixel = (doc_id+3i+7j) mod
    256), round-trips it through the clean-room PNG codec
    (multimodal/codecs.py — zlib + all five scanline filters), and
    emits features computed from the DECODED array. PNG is lossless, so
    the DuckDB oracle can state the expected stats directly from the
    pixel formula — any bug in the filter/deflate path changes the
    decoded bytes and flips the hash. This is the image twin of the
    ADPCM audio contract.

    Spark shape: one Arrow mapInPandas pass, embarrassingly parallel;
    the id filter prunes at the scan."""
    import numpy as np
    import pandas as pd

    from ..multimodal.codecs import decode_png, encode_png

    d = read_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < PNG_FEAT_IDS
    ).select("doc_id")

    def work(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                h, w = 6 + did % 5, 8 + did % 8
                i = np.arange(h).reshape(-1, 1)
                j = np.arange(w).reshape(1, -1)
                gray = ((did + 3 * i + 7 * j) % 256).astype("uint8")
                arr = np.repeat(gray[:, :, None], 3, axis=2)
                dec = decode_png(encode_png(arr))  # lossless roundtrip
                rows.append(
                    {
                        "doc_id": did,
                        "width": int(dec.shape[1]),
                        "height": int(dec.shape[0]),
                        "px_mean": round(float(dec[:, :, 0].astype("float64").mean()), 6),
                        "px_min": int(dec.min()),
                        "px_max": int(dec.max()),
                    }
                )
            yield pd.DataFrame(rows)

    return d.mapInPandas(
        work,
        "doc_id bigint, width int, height int, px_mean double,"
        " px_min int, px_max int",
    )


ORACLE_PNG_FEATURES = f"""
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < {PNG_FEAT_IDS}),
px AS (
  SELECT d.doc_id,
         8 + d.doc_id % 8 AS w, 6 + d.doc_id % 5 AS h,
         (d.doc_id + 3 * i.i + 7 * j.j) % 256 AS v
  FROM d
  JOIN generate_series(0, 10) AS i(i) ON i.i < 6 + d.doc_id % 5
  JOIN generate_series(0, 15) AS j(j) ON j.j < 8 + d.doc_id % 8
)
SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       round(avg(v), 6) AS px_mean,
       CAST(min(v) AS INT) AS px_min, CAST(max(v) AS INT) AS px_max
FROM px GROUP BY doc_id, w, h
"""


QUERIES["doc_png_features"] = QuerySpec(
    q_png_features,
    ORACLE_PNG_FEATURES,
    "PNG codec roundtrip features, oracled against the pixel formula",
)


def q_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (textstats/dsir.py — Xie et al. 2023): score
    every doc by Σ log(p_target/p_source) over hashed unigram+bigram
    buckets (target = English docs), keep the deterministic top 50.
    The per-bucket log-ratio is quantized to integer micro-nats so the
    per-doc sums are order-independent — the oracle reproduces bucket
    hashes (md5), smoothed multinomials, quantization, and the
    (weight desc, id) tie-break exactly."""
    from ..textstats.dsir import dsir_select_topk

    d = read_table(spark, sf_dir, "documents")
    return dsir_select_topk(
        d, "doc_id", "text", F.col("lang") == "en", k=50, n_buckets=4096
    ).withColumnRenamed("id", "doc_id")


ORACLE_DSIR_SELECTION = rf"""
WITH t AS (
  SELECT doc_id, lang = 'en' AS is_target, {SQL_TOKS} AS toks
  FROM documents
),
f AS (
  SELECT doc_id, is_target,
         unnest(list_concat(toks, {SQL_SHINGLES2})) AS feat
  FROM t
),
fb AS (
  SELECT doc_id, is_target,
         {_sql_md5_64('feat')} % 4096 AS b
  FROM f
),
counts AS (
  SELECT b, count(*) AS cs,
         sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS ct
  FROM fb GROUP BY b
),
totals AS (SELECT sum(cs) AS ts, sum(ct) AS tt FROM counts),
ratio AS (
  SELECT b,
         CAST(round(ln(((ct + 1) / (tt + 4096))
                       / ((cs + 1) / (ts + 4096))) * 1000000) AS BIGINT)
           AS lr_micro
  FROM counts, totals
),
scored AS (
  SELECT fb.doc_id, count(*) AS n_feats,
         CAST(sum(r.lr_micro) AS BIGINT) AS weight_micro
  FROM fb JOIN ratio r USING (b)
  GROUP BY fb.doc_id
)
SELECT t.doc_id, t.is_target,
       CAST(coalesce(s.n_feats, 0) AS BIGINT) AS n_feats,
       CAST(coalesce(s.weight_micro, 0) AS BIGINT) AS weight_micro
FROM (SELECT DISTINCT doc_id, is_target FROM t) t
LEFT JOIN scored s USING (doc_id)
ORDER BY weight_micro DESC, doc_id
LIMIT 50
"""


QUERIES["doc_dsir_selection"] = QuerySpec(
    q_dsir_selection,
    ORACLE_DSIR_SELECTION,
    "DSIR importance-resampling selection (hashed n-gram log ratios, micro-nat exact)",
)


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-rule filter (textstats/rules.py, Rae et al. 2021
    thresholds) over the raw corpus — per doc: every measured signal,
    the seven per-rule booleans, and the conjunctive gopher_ok verdict.
    Zero shuffles (in-row higher-order functions); the oracle restates
    each rule in DuckDB list comprehensions."""
    from ..textstats.rules import gopher_quality_rules

    d = read_table(spark, sf_dir, "documents")
    return gopher_quality_rules(d, "doc_id", "text").withColumnRenamed(
        "id", "doc_id"
    )


def _oracle_gopher() -> str:
    stops = "['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with']"
    return rf"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'),
                     w -> w != '') AS words,
         string_split(text, chr(10)) AS lines,
         len(regexp_extract_all(text, '[#…]'))
           + len(regexp_extract_all(text, '\.\.\.')) AS symbols
  FROM documents
),
m AS (
  SELECT doc_id,
         len(words) AS n_words,
         greatest(len(lines), 1) AS nlines,
         len(list_filter(words, w -> regexp_matches(w, '[a-z]')))
           AS alpha_words,
         coalesce(list_sum(list_transform(words, w -> length(w))), 0)
           AS len_sum,
         len(list_filter(lines,
             l -> regexp_matches(trim(l), '^[-*•]'))) AS bullets,
         len(list_filter(lines,
             l -> regexp_matches(rtrim(l), '(\.\.\.|…)$'))) AS ell_ends,
         len(list_intersect(list_distinct(words), {stops})) AS stop_hits,
         symbols
  FROM base
),
r AS (
  SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
         round(CASE WHEN n_words > 0
                    THEN len_sum * 1.0 / n_words ELSE 0.0 END, 6)
           AS mean_word_len,
         round(CASE WHEN n_words > 0
                    THEN symbols * 1.0 / n_words ELSE 0.0 END, 6)
           AS symbol_ratio,
         round(bullets * 1.0 / nlines, 6) AS bullet_ratio,
         round(ell_ends * 1.0 / nlines, 6) AS ellipsis_ratio,
         round(CASE WHEN n_words > 0
                    THEN alpha_words * 1.0 / n_words ELSE 0.0 END, 6)
           AS alpha_ratio,
         CAST(stop_hits AS INT) AS stop_hits
  FROM m
)
SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_ratio,
       ellipsis_ratio, alpha_ratio, stop_hits,
       (n_words >= 50 AND n_words <= 100000) AS ok_word_count,
       (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS ok_word_len,
       (symbol_ratio <= 0.1) AS ok_symbols,
       (bullet_ratio <= 0.9) AS ok_bullets,
       (ellipsis_ratio <= 0.3) AS ok_ellipsis,
       (alpha_ratio >= 0.8) AS ok_alpha,
       (stop_hits >= 2) AS ok_stopwords,
       ((n_words >= 50 AND n_words <= 100000)
        AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
        AND symbol_ratio <= 0.1 AND bullet_ratio <= 0.9
        AND ellipsis_ratio <= 0.3 AND alpha_ratio >= 0.8
        AND stop_hits >= 2) AS gopher_ok
FROM r
"""


QUERIES["doc_gopher_rules"] = QuerySpec(
    q_gopher_rules,
    _oracle_gopher(),
    "Gopher quality-rule filter (published thresholds, per-rule verdicts)",
)


def q_c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level cleaning (textstats/rules.py, Raffel et al. 2020
    rules). The corpus has single-line docs, so the query first builds
    a deterministic 7-line page per doc FROM ITS REAL COLUMNS (content
    slices with terminal punctuation + boilerplate lines with the
    C4 kill-patterns), then applies the filter — every rule fires with
    doc-varying outcomes, and the oracle rebuilds the identical page
    and restates the rules. In-row filter/array_join: zero shuffles."""
    from ..textstats.rules import c4_line_filter

    d = read_table(spark, sf_dir, "documents")
    page = F.concat_ws(
        "\n",
        F.concat(F.substring("text", 1, 40), F.lit(".")),
        F.lit("Buy now"),
        F.lit("this has javascript code."),
        F.concat(F.substring("text", 41, 50), F.lit("!")),
        F.lit("menu { nav }."),
        F.lit("lorem ipsum dolor sit amet."),
        F.concat(F.col("source"), F.lit(" footer text ok.")),
    )
    staged = d.select("doc_id", page.alias("page"))
    return c4_line_filter(staged, "doc_id", "page").withColumnRenamed(
        "id", "doc_id"
    )


ORACLE_C4_LINE_FILTER = r"""
WITH staged AS (
  SELECT doc_id,
         concat_ws(chr(10),
           substr(text, 1, 40) || '.',
           'Buy now',
           'this has javascript code.',
           substr(text, 41, 50) || '!',
           'menu { nav }.',
           'lorem ipsum dolor sit amet.',
           source || ' footer text ok.') AS page
  FROM documents
),
l AS (
  SELECT doc_id, string_split(page, chr(10)) AS lines FROM staged
),
k AS (
  SELECT doc_id, lines,
         list_filter(lines, l ->
           regexp_matches(trim(l), '[.!?"”]$')
           AND len(list_filter(string_split_regex(trim(l), '\s+'),
                               w -> w != '')) >= 4
           AND NOT contains(lower(trim(l)), '{')
           AND NOT contains(lower(trim(l)), 'lorem ipsum')
           AND NOT contains(lower(trim(l)), 'javascript')) AS kept
  FROM l
)
SELECT doc_id, CAST(len(lines) AS BIGINT) AS n_lines,
       CAST(len(kept) AS BIGINT) AS n_kept,
       CAST(length(array_to_string(kept, chr(10))) AS BIGINT)
         AS cleaned_len,
       array_to_string(kept, chr(10)) AS cleaned
FROM k
"""


QUERIES["doc_c4_line_filter"] = QuerySpec(
    q_c4_line_filter,
    ORACLE_C4_LINE_FILTER,
    "C4 line-level cleaning (terminal punct, min words, kill-patterns)",
)


def q_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END corpus construction in one DataFrame plan — the
    pipeline a pretraining-data team actually runs, each stage being an
    operator this suite verifies in isolation: Gopher rule gate
    (textstats/rules.py, zero-shuffle projection) → exact dedup keeping
    the lowest id per content hash (dedup/exact.py, one hash shuffle) →
    DSIR importance scoring toward the English slice (textstats/dsir.py,
    bounded bucket broadcast) → deterministic top-100 selection → per-
    lang corpus accounting. The oracle recomposes the same four stages
    in SQL, so the HASH pins the whole DAG: gate thresholds, survivor
    identity, multinomial smoothing, micro-nat quantization, tie-breaks.

    Scale: 3 shuffles total (dedup hash, DSIR buckets, per-doc sum) +
    a TakeOrderedAndProject — nothing corpus-sized on the driver."""
    from ..dedup.exact import exact_dedup
    from ..textstats.dsir import dsir_importance
    from ..textstats.rules import gopher_quality_rules

    d = read_table(spark, sf_dir, "documents")
    ruled = gopher_quality_rules(
        d, "doc_id", "text", carry_cols=("lang", "text")
    )
    gated = ruled.filter(
        F.col("ok_word_count") & F.col("ok_word_len") & F.col("ok_alpha")
    ).select("id", "lang", "text", "n_words")
    keep = exact_dedup(gated, "id", "text").select("keep_id")
    # survivors feed three consumers (DSIR features, the zero-feature
    # left-join anchor, the final metadata join) — materialize once so
    # the gate+dedup chain doesn't recompute per consumer
    surv = (
        gated.join(keep, gated.id == keep.keep_id)
        .drop("keep_id")
        .localCheckpoint(eager=False)
    )
    scored = dsir_importance(
        surv, "id", "text", F.col("lang") == "en", n_buckets=4096
    )
    sel = scored.orderBy(F.col("weight_micro").desc(), "id").limit(100)
    return (
        sel.join(surv.select("id", "lang", "n_words"), "id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("sum_words"),
            F.sum("weight_micro").alias("sum_weight_micro"),
        )
    )


ORACLE_CORPUS_BUILD = rf"""
WITH base AS (
  SELECT doc_id, lang, text,
         list_filter(string_split_regex(lower(text), '\s+'),
                     w -> w != '') AS words
  FROM documents
),
g AS (
  SELECT doc_id, lang, text, len(words) AS n_words,
         round(CASE WHEN len(words) > 0
               THEN list_sum(list_transform(words, w -> length(w)))
                    * 1.0 / len(words) ELSE 0.0 END, 6) AS mwl,
         round(CASE WHEN len(words) > 0
               THEN len(list_filter(words, w -> regexp_matches(w, '[a-z]')))
                    * 1.0 / len(words) ELSE 0.0 END, 6) AS ar
  FROM base
),
gated AS (
  SELECT doc_id, lang, text, n_words FROM g
  WHERE n_words >= 50 AND n_words <= 100000
    AND mwl >= 3.0 AND mwl <= 10.0 AND ar >= 0.8
),
keep AS (
  SELECT min(doc_id) AS doc_id
  FROM gated GROUP BY md5({SQL_NORM})
),
surv AS (SELECT g.* FROM gated g JOIN keep USING (doc_id)),
t AS (
  SELECT doc_id, lang, n_words, lang = 'en' AS is_target,
         {SQL_TOKS} AS toks
  FROM surv
),
fb AS (
  SELECT doc_id, is_target,
         {_sql_md5_64('feat')} % 4096 AS b
  FROM (SELECT doc_id, is_target,
               unnest(list_concat(toks, {SQL_SHINGLES2})) AS feat
        FROM t)
),
counts AS (
  SELECT b, count(*) AS cs,
         sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS ct
  FROM fb GROUP BY b
),
totals AS (SELECT sum(cs) AS ts, sum(ct) AS tt FROM counts),
ratio AS (
  SELECT b, CAST(round(ln(((ct + 1) / (tt + 4096))
                        / ((cs + 1) / (ts + 4096))) * 1000000) AS BIGINT)
              AS lr_micro
  FROM counts, totals
),
scored AS (
  SELECT fb.doc_id, CAST(sum(r.lr_micro) AS BIGINT) AS weight_micro
  FROM fb JOIN ratio r USING (b) GROUP BY fb.doc_id
),
sel AS (
  SELECT t.doc_id, t.lang, t.n_words,
         coalesce(s.weight_micro, 0) AS weight_micro
  FROM t LEFT JOIN scored s USING (doc_id)
  ORDER BY weight_micro DESC, doc_id
  LIMIT 100
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_words) AS BIGINT) AS sum_words,
       CAST(sum(weight_micro) AS BIGINT) AS sum_weight_micro
FROM sel GROUP BY lang
"""


QUERIES["doc_corpus_build"] = QuerySpec(
    q_corpus_build,
    ORACLE_CORPUS_BUILD,
    "end-to-end corpus build: Gopher gate -> exact dedup -> DSIR top-k -> accounting",
)


def q_lang_alpha_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alpha-sampling language rebalance (operators/sampling.py::
    alpha_rebalance — the XLM-R/mT5 temperature trick, alpha=0.3,
    budget 300): per lang the oracle must agree on corpus shares, the
    p^alpha renormalized targets, the exact md5-ordered member set
    (pinned by sum(doc_id)), and the upsampling effect — low-resource
    langs keep a larger fraction of their docs than 'en' does."""
    from ..operators.sampling import alpha_rebalance

    d = read_table(spark, sf_dir, "documents")
    sel = alpha_rebalance(d, "doc_id", "lang", total=300, alpha=0.3)
    return sel.groupBy("lang").agg(
        F.max("n_avail").alias("n_avail"),
        F.max("target_n").alias("target_n"),
        F.count(F.lit(1)).alias("n_selected"),
        F.sum("doc_id").alias("sel_id_sum"),
    )


ORACLE_LANG_ALPHA_SAMPLE = rf"""
WITH counts AS (
  SELECT lang, count(*) AS n_avail FROM documents GROUP BY lang
),
tot AS (SELECT sum(n_avail) AS n_total FROM counts),
shares AS (
  SELECT lang, n_avail,
         CAST(round(power(n_avail * 1.0 / n_total, 0.3) * 1e12)
              AS BIGINT) AS share_q
  FROM counts, tot
),
z AS (SELECT CAST(sum(share_q) AS BIGINT) AS z FROM shares),
targets AS (
  SELECT lang, n_avail,
         least(n_avail,
               CAST((2 * share_q * 300 + z) // (2 * z) AS BIGINT))
           AS target_n
  FROM shares, z
),
ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY {_sql_md5_64("'alpha' || CAST(doc_id AS VARCHAR)")},
                    doc_id) AS rn
  FROM documents
)
SELECT r.lang, CAST(max(t.n_avail) AS BIGINT) AS n_avail,
       max(t.target_n) AS target_n,
       count(*) AS n_selected,
       CAST(sum(r.doc_id) AS BIGINT) AS sel_id_sum
FROM ranked r JOIN targets t USING (lang)
WHERE r.rn <= t.target_n
GROUP BY r.lang
"""


QUERIES["doc_lang_alpha_sample"] = QuerySpec(
    q_lang_alpha_sample,
    ORACLE_LANG_ALPHA_SAMPLE,
    "alpha-sampling language rebalance (p^0.3 targets, exact md5-ordered members)",
)


def q_fineweb_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FineWeb's three added heuristics (textstats/rules.py::
    fineweb_line_rules) on deterministic multi-line pages built from
    the real doc columns — duplicate and short lines are injected by
    doc_id residue so every rule fires with doc-varying outcomes; the
    oracle rebuilds the identical page and restates the nested
    duplicate-line scan with list comprehensions."""
    from ..textstats.rules import fineweb_line_rules

    d = read_table(spark, sf_dir, "documents")
    dup_or_unique = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(F.substring("text", 1, 40), F.lit(".")),
    ).otherwise(F.concat(F.substring("text", 45, 40), F.lit(".")))
    short_or_long = F.when(F.col("doc_id") % 4 == 0, F.lit("short")).otherwise(
        F.concat(F.substring("text", 90, 50), F.lit("?"))
    )
    page = F.concat_ws(
        "\n",
        F.concat(F.substring("text", 1, 40), F.lit(".")),
        dup_or_unique,
        short_or_long,
        F.col("source"),
        F.concat(F.substring("text", 141, 60), F.lit("!")),
    )
    staged = d.select("doc_id", page.alias("page"))
    return fineweb_line_rules(staged, "doc_id", "page").withColumnRenamed(
        "id", "doc_id"
    )


ORACLE_FINEWEB_RULES = r"""
WITH staged AS (
  SELECT doc_id,
         concat_ws(chr(10),
           substr(text, 1, 40) || '.',
           CASE WHEN doc_id % 3 = 0 THEN substr(text, 1, 40) || '.'
                ELSE substr(text, 45, 40) || '.' END,
           CASE WHEN doc_id % 4 = 0 THEN 'short'
                ELSE substr(text, 90, 50) || '?' END,
           source,
           substr(text, 141, 60) || '!') AS page
  FROM documents
),
l AS (
  SELECT doc_id, string_split(page, chr(10)) AS lines FROM staged
),
m AS (
  SELECT doc_id, len(lines) AS n_lines,
         len(list_filter(lines,
             l -> regexp_matches(rtrim(l), '[.!?"'']$'))) AS punct_ends,
         len(list_filter(lines, l -> length(l) < 30)) AS short_lines,
         coalesce(list_sum(list_transform(lines, l -> length(l))), 0)
           AS total_chars,
         coalesce(list_sum(list_transform(
             list_filter(lines,
               l -> len(list_filter(lines, x -> x = l)) > 1),
             l -> length(l))), 0) AS dup_chars
  FROM l
),
r AS (
  SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
         round(punct_ends * 1.0 / greatest(n_lines, 1), 6)
           AS punct_end_ratio,
         round(CASE WHEN total_chars > 0
               THEN dup_chars * 1.0 / total_chars ELSE 0.0 END, 6)
           AS dup_char_ratio,
         round(short_lines * 1.0 / greatest(n_lines, 1), 6)
           AS short_line_ratio
  FROM m
)
SELECT doc_id, n_lines, punct_end_ratio, dup_char_ratio, short_line_ratio,
       (punct_end_ratio >= 0.12) AS ok_punct_end,
       (dup_char_ratio <= 0.10) AS ok_dup_chars,
       (short_line_ratio <= 0.67) AS ok_short_lines,
       (punct_end_ratio >= 0.12 AND dup_char_ratio <= 0.10
        AND short_line_ratio <= 0.67) AS fineweb_ok
FROM r
"""


QUERIES["doc_fineweb_rules"] = QuerySpec(
    q_fineweb_rules,
    ORACLE_FINEWEB_RULES,
    "FineWeb line heuristics (punct-end, duplicated-chars, short-line ratios)",
)


def q_substr_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr duplicated-run spans (dedup/substr.py::substr_dup_spans,
    k=8): every maximal merged token interval covered by a >=8-token run
    that appears at least twice anywhere in the corpus. The oracle
    rebuilds the identical positional-shingle -> occurrence-count ->
    gaps-and-islands pipeline in SQL, so a position/merge off-by-one
    flips the hash."""
    from ..dedup.substr import substr_dup_spans

    d = read_table(spark, sf_dir, "documents")
    return substr_dup_spans(d, "doc_id", "text", k=8)


# positional k=8 shingles: start s is 1-based in generate_series, pos = s-1
SQL_SUBSTR_SPANS_CTE = rf"""
WITH t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
sh AS (
  SELECT doc_id, s - 1 AS pos,
         {_sql_md5_64("array_to_string(toks[s:s+7], ' ')")} AS h
  FROM t, unnest(generate_series(1, len(toks) - 7)) AS u(s)
  WHERE len(toks) >= 8
),
dup AS (SELECT h FROM sh GROUP BY h HAVING count(*) >= 2),
spans AS (
  SELECT sh.doc_id, sh.pos AS s, sh.pos + 7 AS e
  FROM sh JOIN dup USING (h)
),
flagged AS (
  SELECT doc_id, s, e,
         CASE WHEN s > coalesce(max(e) OVER (
                  PARTITION BY doc_id ORDER BY s
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                -2) + 1
              THEN 1 ELSE 0 END AS new_island
  FROM spans
),
islands AS (
  SELECT doc_id, s, e,
         sum(new_island) OVER (
           PARTITION BY doc_id ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged
),
merged AS (
  SELECT doc_id, CAST(min(s) AS BIGINT) AS span_start,
         CAST(max(e) AS BIGINT) AS span_end
  FROM islands GROUP BY doc_id, island
)
"""

ORACLE_SUBSTR_SPANS = SQL_SUBSTR_SPANS_CTE + """
SELECT doc_id, span_start, span_end FROM merged
"""


QUERIES["doc_substr_spans"] = QuerySpec(
    q_substr_spans,
    ORACLE_SUBSTR_SPANS,
    "ExactSubstr duplicated >=8-token runs as merged per-doc token spans",
)


def q_substr_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr removable-span ledger (dedup/substr.py::
    substr_dedup_stats, k=8): per document the token count, number of
    merged duplicated spans, removable token total and fraction — docs
    with no duplicated run appear with zeros (full-corpus left join)."""
    from ..dedup.substr import substr_dedup_stats

    d = read_table(spark, sf_dir, "documents")
    return substr_dedup_stats(d, "doc_id", "text", k=8)


ORACLE_SUBSTR_DEDUP = SQL_SUBSTR_SPANS_CTE + rf""",
per_doc AS (
  SELECT doc_id, count(*) AS n_spans,
         sum(span_end - span_start + 1) AS dup_tokens
  FROM merged GROUP BY doc_id
),
base AS (SELECT doc_id, len({SQL_TOKS}) AS n_tokens FROM documents)
SELECT b.doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
       CAST(coalesce(p.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(coalesce(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       round(coalesce(p.dup_tokens, 0) * 1.0
             / greatest(b.n_tokens, 1), 6) AS dup_frac
FROM base b LEFT JOIN per_doc p USING (doc_id)
"""


QUERIES["doc_substr_dedup"] = QuerySpec(
    q_substr_dedup,
    ORACLE_SUBSTR_DEDUP,
    "ExactSubstr per-doc removable-token accounting (n_spans, dup_tokens, dup_frac)",
)


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-shape quality classifier (textstats/quality_clf.py):
    hard-sigmoid logistic regression over hashed unigram+bigram buckets
    (dim=1024), trained for 3 fixed GD iterations with lr=1 entirely in
    integer micro-units, positives = lang='en'. The oracle UNROLLS the
    full training run as SQL CTEs (w0=0 -> p=0.5 -> grad -> w1 -> ...),
    so every gradient sum, floor division, clamp and the final per-doc
    score must match bit-for-bit."""
    from ..textstats.quality_clf import quality_classifier_scores

    d = read_table(spark, sf_dir, "documents")
    return quality_classifier_scores(
        d, "doc_id", "text", F.col("lang") == "en", dim=1024, iters=3
    ).withColumnRenamed("id", "doc_id")


def _sql_fdiv(a: str, b: str) -> str:
    """Mathematical floor division for DuckDB: subtract the non-negative
    mod so the quotient is exactly divisible (truncate == floor)."""
    return f"((({a}) - (((({a}) % ({b})) + ({b})) % ({b}))) // ({b}))"


def _quality_clf_cte(dim: int, iters: int, train_where: str = "TRUE") -> str:
    """CTE prefix replaying the classifier training run (weights end in
    w{iters}, bias in bias{iters}, per-doc final z over ALL docs in
    zf). `train_where` restricts the TRAINING slice (the offline-
    sample pattern); scoring always covers the full corpus."""
    parts = [rf"""
WITH t AS (SELECT doc_id AS id, lang = 'en' AS y, {SQL_TOKS} AS toks
           FROM documents),
feats AS (
  SELECT id, {_sql_md5_64('feat')} % {dim} AS b, count(*) AS cnt
  FROM (SELECT id, unnest(list_concat(toks, {SQL_SHINGLES2})) AS feat FROM t)
  GROUP BY id, b
),
lab AS (SELECT id, CAST(y AS INT) * 1000000 AS ym FROM t
        WHERE {train_where}),
tf AS (SELECT feats.* FROM feats JOIN lab USING (id)),
nn AS (SELECT count(*) AS n FROM lab),
g1 AS (SELECT b, sum((500000 - ym) * cnt) AS gs
       FROM tf JOIN lab USING (id) GROUP BY b),
w1 AS (SELECT b, -({_sql_fdiv('gs', 'n')}) AS w FROM g1, nn),
bias1 AS (SELECT -({_sql_fdiv('sum(500000 - ym)', 'n')}) AS bv
          FROM lab, nn GROUP BY n)"""]
    for i in range(2, iters + 1):
        parts.append(rf""",
z{i} AS (SELECT f.id,
         {_sql_fdiv('sum(w' + str(i-1) + '.w * f.cnt)', 'sum(f.cnt)')} AS z
        FROM tf f JOIN w{i-1} USING (b) GROUP BY f.id),
p{i} AS (SELECT id,
         least(1000000, greatest(0,
           500000 + {_sql_fdiv('z + bv', '4')})) AS p
        FROM z{i}, bias{i-1}),
g{i} AS (SELECT b, sum((p{i}.p - lab.ym) * cnt) AS gs
        FROM tf JOIN p{i} USING (id) JOIN lab USING (id) GROUP BY b),
w{i} AS (SELECT w{i-1}.b, w{i-1}.w - ({_sql_fdiv('gs', 'n')}) AS w
        FROM w{i-1} JOIN g{i} USING (b), nn),
bg{i} AS (SELECT sum(p{i}.p - lab.ym) AS g FROM p{i} JOIN lab USING (id)),
bias{i} AS (SELECT bv - ({_sql_fdiv('g', 'n')}) AS bv
            FROM bias{i-1}, bg{i}, nn)""")
    # scoring must LEFT-join: with sampled training a probe gram can
    # hash to a bucket no training doc touched (weight 0), and dropping
    # it would skew the mean-pool denominator
    parts.append(rf""",
zf AS (SELECT f.id,
       {_sql_fdiv('sum(coalesce(w.w, 0) * f.cnt)', 'sum(f.cnt)')} AS z
       FROM feats f LEFT JOIN w{iters} AS w USING (b) GROUP BY f.id)""")
    return "".join(parts)


def _quality_clf_oracle() -> str:
    score = _sql_fdiv("zf.z + bias3.bv", "4")
    return _quality_clf_cte(1024, 3) + rf"""
SELECT t.id AS doc_id, t.y,
       CAST(least(1000000, greatest(0, 500000 + {score}))
            AS BIGINT) AS score_micro,
       (least(1000000, greatest(0, 500000 + {score}))
        >= 500000) AS pred
FROM t JOIN zf ON t.id = zf.id, bias3"""


QUERIES["doc_quality_classifier"] = QuerySpec(
    q_quality_classifier,
    _quality_clf_oracle(),
    "hard-sigmoid logistic quality scorer, training replayed bit-exactly in SQL",
)


def q_substr_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr APPLIED (dedup/substr.py::substr_dedup_apply, k=8):
    the corpus with every token inside a duplicated >=8-token run
    removed — per doc the token counts before/after and the full
    cleaned text, which the oracle reconstructs token-by-token
    (positional anti-join against the merged spans + ordered
    string_agg), so a single kept-or-dropped token anywhere flips the
    hash."""
    from ..dedup.substr import substr_dedup_apply

    d = read_table(spark, sf_dir, "documents")
    return substr_dedup_apply(d, "doc_id", "text", k=8)


ORACLE_SUBSTR_DEDUP_APPLY = SQL_SUBSTR_SPANS_CTE + rf""",
tk AS (
  SELECT doc_id, u.i AS i, toks[u.i + 1] AS tok, len(toks) AS n_tokens
  FROM t, unnest(generate_series(0, len(toks) - 1)) AS u(i)
),
kept AS (
  SELECT tk.* FROM tk
  WHERE NOT EXISTS (
    SELECT 1 FROM merged m
    WHERE m.doc_id = tk.doc_id
      AND tk.i BETWEEN m.span_start AND m.span_end
  )
)
SELECT b.doc_id,
       CAST(b.n_tokens AS BIGINT) AS n_tokens,
       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
       coalesce(k.clean_text, '') AS clean_text
FROM (SELECT doc_id, len({SQL_TOKS}) AS n_tokens FROM documents) b
LEFT JOIN (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(tok, ' ' ORDER BY i) AS clean_text
  FROM kept GROUP BY doc_id
) k USING (doc_id)
"""


QUERIES["doc_substr_dedup_apply"] = QuerySpec(
    q_substr_dedup_apply,
    ORACLE_SUBSTR_DEDUP_APPLY,
    "ExactSubstr applied: duplicated-run tokens removed, cleaned text exact",
)


def q_bloom_decontam_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership gate (dedup/bloom.py): screen the whole
    corpus against the English slice as the reference set (the
    decontamination / seen-before shape) with a k=3
    Kirsch-Mitzenmacher BloomIndex sized at ~10 bits per distinct
    English text (at least 4096 bits), folded into the plan as a bitmap
    literal. Per lang: docs, Bloom-flagged docs, exactly-seen docs, and
    realized FALSE POSITIVES — the oracle recomputes every bit position
    from the same salted md5 double-hash and the same bitmap semantics,
    so even which keys false-positive is hash-checked, not just rates.
    Probe side is zero-shuffle in-row bit tests; the reference set cost
    is one bounded (<= m rows) aggregate."""
    from ..dedup.bloom import bloom_gate

    d = read_table(spark, sf_dir, "documents")
    ref = d.filter(F.col("lang") == "en").select("text")
    gated = bloom_gate(ref, "text", d, "text", m=4096, k=3, salt="decon")
    seen = ref.distinct().withColumn("truly_seen", F.lit(True))
    return (
        gated.join(seen, "text", "left")
        .withColumn("truly_seen", F.coalesce("truly_seen", F.lit(False)))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("bloom_hit").cast("int")).alias("n_flagged"),
            F.sum(F.col("truly_seen").cast("int")).alias("n_seen"),
            F.sum(
                (F.col("bloom_hit") & ~F.col("truly_seen")).cast("int")
            ).alias("n_false_pos"),
        )
    )


_DECON_POS = [_bloom_pos_sql("text", "decon", i, "(SELECT m FROM mx)")
              for i in range(3)]

ORACLE_BLOOM_DECONTAM = rf"""
WITH ref AS (SELECT DISTINCT text FROM documents WHERE lang = 'en'),
nk AS (SELECT count(DISTINCT text) AS c FROM ref),
mx AS MATERIALIZED (
  SELECT ((greatest(4096, 10 * c) + 31) // 32) * 32 AS m FROM nk),
refpos AS MATERIALIZED (
  SELECT DISTINCT unnest([{', '.join(_DECON_POS)}]) AS p FROM ref),
hits AS (
  SELECT doc_id, lang,
         {' AND '.join(f'({p}) IN (SELECT p FROM refpos)' for p in _DECON_POS)}
           AS bloom_hit,
         text IN (SELECT text FROM ref) AS truly_seen
  FROM documents
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(CAST(bloom_hit AS INT)) AS BIGINT) AS n_flagged,
       CAST(sum(CAST(truly_seen AS INT)) AS BIGINT) AS n_seen,
       CAST(sum(CAST(bloom_hit AND NOT truly_seen AS INT)) AS BIGINT)
         AS n_false_pos
FROM hits GROUP BY lang
"""


QUERIES["doc_bloom_decontam_gate"] = QuerySpec(
    q_bloom_decontam_gate,
    ORACLE_BLOOM_DECONTAM,
    "Bloom bitmap membership gate vs exact set; realized FPs hash-checked",
)


LINE_DEDUP_MIN_DF = 30


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency line dedup (dedup/lines.py — CCNet §4.2 line
    hashing / RefinedWeb boilerplate removal): lines appearing in >= 30
    distinct docs are dropped everywhere. The corpus has single-line
    docs, so the query first builds a deterministic 5-line page per doc
    from its real columns — two global boilerplate lines (df = corpus),
    one per-source nav line (df = source size, straddles the threshold),
    two content slices (df ~ 1) — then dedups; the oracle rebuilds the
    identical pages, the doc-frequency table, and the reassembly."""
    from ..dedup.lines import line_dedup

    d = read_table(spark, sf_dir, "documents")
    page = F.concat_ws(
        "\n",
        F.substring("text", 1, 40),
        F.lit("Subscribe to our newsletter"),
        F.concat(F.col("source"), F.lit(" navigation menu")),
        F.substring("text", 41, 35),
        F.lit("Copyright 2024 Example Corp"),
    )
    staged = d.select("doc_id", page.alias("page"))
    return line_dedup(staged, "doc_id", "page", LINE_DEDUP_MIN_DF)


ORACLE_LINE_DEDUP = f"""
WITH staged AS (
  SELECT doc_id,
         concat_ws(chr(10),
           substr(text, 1, 40),
           'Subscribe to our newsletter',
           source || ' navigation menu',
           substr(text, 41, 35),
           'Copyright 2024 Example Corp') AS page
  FROM documents
),
l AS (
  SELECT doc_id,
         unnest(string_split(page, chr(10))) AS line,
         unnest(generate_series(1, len(string_split(page, chr(10)))))
           AS pos
  FROM staged
),
k AS (SELECT doc_id, pos, line, lower(trim(line)) AS key FROM l),
boiler AS (
  SELECT key FROM (
    SELECT key, count(DISTINCT doc_id) AS df_ FROM k GROUP BY key
  ) WHERE df_ >= {LINE_DEDUP_MIN_DF}
),
kept AS (
  SELECT doc_id, pos, line FROM k
  WHERE key NOT IN (SELECT key FROM boiler)
),
per_doc AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(line, chr(10) ORDER BY pos) AS cleaned
  FROM kept GROUP BY doc_id
)
SELECT s.doc_id,
       CAST(len(string_split(s.page, chr(10))) AS BIGINT) AS n_lines,
       CAST(coalesce(p.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(len(string_split(s.page, chr(10)))
            - coalesce(p.n_kept, 0) AS BIGINT) AS removed_lines,
       coalesce(p.cleaned, '') AS cleaned
FROM staged s LEFT JOIN per_doc p USING (doc_id)
"""


QUERIES["doc_line_dedup"] = QuerySpec(
    q_line_dedup,
    ORACLE_LINE_DEDUP,
    "corpus-frequency boilerplate line dedup (CCNet line hashing)",
)


# ---------------------------------------------------------------------------
# SFT chat-template rendering (training-data assembly for instruction
# tuning): deterministic conversation construction + ChatML render +
# LOSS-MASK character spans over the assistant turns.

CHAT_WORDS_PER_TURN = 8
CHAT_MAX_TURNS = 6
# ChatML framing constants (public format): "<|im_start|>{role}\n" +
# content + "<|im_end|>\n". Header lengths: system 19, user 17,
# assistant 22; trailer 11.
_CHAT_TRAIL = 11


def q_chat_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT training-record assembly: build a deterministic conversation
    from each document (consecutive CHAT_WORDS_PER_TURN-word chunks as
    alternating user/assistant turns, capped at CHAT_MAX_TURNS, plus a
    lang/source system turn), render it in the public ChatML format,
    and compute the LOSS-MASK character spans — the [start, len) of
    every assistant turn's content in the rendered string, emitted as
    exact integer checksums (mask_start_sum / mask_len_sum) so an
    off-by-one in any header length or offset chain flips the hash.
    The full rendered string is also emitted and compared bit-for-bit.

    Spark shape: pure in-row higher-order functions (split/slice/
    transform/aggregate) — zero shuffle, zero Python; the offset chain
    is a single fold over the turn array. Scale: embarrassingly
    parallel per document, same at 100 TB.

    Reference parity: the reference repo has no SFT surface (three CSV
    KPI jobs); this is north-star LLM-pipeline extension work."""
    d = read_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), r"\s+")
    n_words = F.size(words)
    wpt = F.lit(CHAT_WORDS_PER_TURN)
    n_turns = F.least(
        F.floor((n_words + CHAT_WORDS_PER_TURN - 1) / wpt),
        F.lit(CHAT_MAX_TURNS),
    ).cast("int")
    sysc = F.concat(F.lit("lang="), F.col("lang"),
                    F.lit(" source="), F.col("source"))
    idxs = F.sequence(F.lit(0), n_turns - 1)
    turns = F.transform(
        idxs, lambda i: F.array_join(F.slice(words, i * wpt + 1,
                                             CHAT_WORDS_PER_TURN), " ")
    )
    seg = F.transform(
        idxs,
        lambda i: F.concat(
            F.lit("<|im_start|>"),
            F.when(i % 2 == 0, F.lit("user")).otherwise(F.lit("assistant")),
            F.lit("\n"),
            F.element_at(turns, i + 1),
            F.lit("<|im_end|>\n"),
        ),
    )
    rendered = F.concat(
        F.lit("<|im_start|>system\n"), sysc, F.lit("<|im_end|>\n"),
        F.array_join(seg, ""),
    )
    sys_block = (F.length(sysc) + F.lit(19 + _CHAT_TRAIL)).cast("long")
    # fold the offset chain: acc.off = rendered length so far, acc.ssum
    # = sum of assistant-content start offsets (start = off + header)
    fold = F.aggregate(
        idxs,
        F.struct(sys_block.alias("off"),
                 F.lit(0).cast("long").alias("ssum")),
        lambda acc, i: F.struct(
            (acc.off
             + F.when(i % 2 == 0, F.lit(17)).otherwise(F.lit(22))
             + F.length(F.element_at(turns, i + 1))
             + F.lit(_CHAT_TRAIL)).alias("off"),
            (acc.ssum + F.when(i % 2 == 1, acc.off + F.lit(22))
             .otherwise(F.lit(0))).alias("ssum"),
        ),
    )
    mask_len = F.aggregate(
        idxs, F.lit(0).cast("long"),
        lambda acc, i: acc + F.when(
            i % 2 == 1, F.length(F.element_at(turns, i + 1))
        ).otherwise(F.lit(0)),
    )
    return d.select(
        "doc_id",
        n_turns.alias("n_turns"),
        (n_turns / 2).cast("int").alias("n_assistant"),
        fold["off"].alias("render_len"),
        fold["ssum"].alias("mask_start_sum"),
        mask_len.alias("mask_len_sum"),
        rendered.alias("rendered"),
    )


ORACLE_CHAT_TEMPLATE = f"""
WITH base AS (
  SELECT doc_id, lang, source,
         string_split_regex(text, '\\s+') AS w,
         'lang=' || lang || ' source=' || source AS sysc
  FROM documents
),
dims AS (
  SELECT doc_id, lang, source, w, sysc,
         CAST(least((len(w) + {CHAT_WORDS_PER_TURN - 1})
                    // {CHAT_WORDS_PER_TURN}, {CHAT_MAX_TURNS}) AS INT)
           AS n_turns
  FROM base
),
turns AS (
  SELECT d.doc_id, d.n_turns, d.sysc, i.i AS ti,
         array_to_string(d.w[i.i * {CHAT_WORDS_PER_TURN} + 1 :
                              (i.i + 1) * {CHAT_WORDS_PER_TURN}], ' ')
           AS content,
         CASE WHEN i.i % 2 = 0 THEN 'user' ELSE 'assistant' END AS role
  FROM dims d
  JOIN generate_series(0, {CHAT_MAX_TURNS - 1}) AS i(i)
    ON i.i < d.n_turns
),
segs AS (
  SELECT doc_id, ti, role, content,
         '<|im_start|>' || role || chr(10) || content
           || '<|im_end|>' || chr(10) AS seg,
         CASE WHEN role = 'user' THEN 17 ELSE 22 END AS hdr,
         length(content) AS clen
  FROM turns
),
offs AS (
  SELECT doc_id, ti, role, seg, hdr, clen,
         sum(hdr + clen + {_CHAT_TRAIL})
           OVER (PARTITION BY doc_id ORDER BY ti
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prior
  FROM segs
),
per_doc AS (
  SELECT o.doc_id,
         sum(CASE WHEN o.role = 'assistant'
                  THEN length(d2.sysc) + {19 + _CHAT_TRAIL}
                       + coalesce(o.prior, 0) + o.hdr
                  ELSE 0 END) AS mask_start_sum,
         sum(CASE WHEN o.role = 'assistant' THEN o.clen ELSE 0 END)
           AS mask_len_sum,
         sum(o.hdr + o.clen + {_CHAT_TRAIL}) AS turns_len,
         string_agg(o.seg, '' ORDER BY o.ti) AS body
  FROM offs o JOIN dims d2 USING (doc_id)
  GROUP BY o.doc_id
)
SELECT d.doc_id,
       d.n_turns,
       CAST(d.n_turns // 2 AS INT) AS n_assistant,
       CAST(length(d.sysc) + {19 + _CHAT_TRAIL} + p.turns_len AS BIGINT)
         AS render_len,
       CAST(p.mask_start_sum AS BIGINT) AS mask_start_sum,
       CAST(p.mask_len_sum AS BIGINT) AS mask_len_sum,
       '<|im_start|>system' || chr(10) || d.sysc || '<|im_end|>'
         || chr(10) || p.body AS rendered
FROM dims d JOIN per_doc p USING (doc_id)
"""


QUERIES["doc_chat_template"] = QuerySpec(
    q_chat_template,
    ORACLE_CHAT_TEMPLATE,
    "SFT chat-template render (ChatML) + exact loss-mask span offsets",
)


# ---------------------------------------------------------------------------
# DPO preference-pair construction: within bounded hash buckets, pair
# the i-th best document with the i-th worst by a deterministic
# quality score.

DPO_BUCKETS = 16


def q_dpo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair assembly (DPO/RLHF reward-data shape): score
    each document with a deterministic lexical-diversity signal
    (distinct-word ratio in integer ppm), hash-bucket the corpus into
    DPO_BUCKETS groups per language (the partition grain — bucket
    count scales with the corpus the way shuffle partitions do, so no
    per-language total sort), rank within (lang, bucket), and pair
    rank i with rank cnt+1-i: (chosen, rejected, margin_ppm), keeping
    strictly-positive margins.

    Spark shape: one window pass over (lang, bucket) partitions + one
    self-equi-join on the rank — both on the same bounded partition
    key, no corpus-sized window. Ties break on doc_id both sides, so
    the pairing is deterministic and the oracle reproduces it exactly.

    Reference parity: north-star LLM-pipeline extension (the reference
    has no preference-data surface)."""
    d = read_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), r"\s+")
    score = F.floor(
        F.lit(1000000) * F.size(F.array_distinct(words)) / F.size(words)
    ).cast("long")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15),
               16, 10).cast("long") % DPO_BUCKETS
    ).alias("bucket")
    base = d.select(
        "doc_id", "lang", bucket, score.alias("score_ppm")
    )
    w = Window.partitionBy("lang", "bucket").orderBy(
        F.col("score_ppm").desc(), F.col("doc_id").asc()
    )
    ranked = base.select(
        "*",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(
            Window.partitionBy("lang", "bucket")
        ).alias("cnt"),
    )
    best = ranked.filter(F.col("rn") * 2 <= F.col("cnt")).select(
        "lang", "bucket", "rn", "cnt",
        F.col("doc_id").alias("chosen_id"),
        F.col("score_ppm").alias("chosen_score"),
    )
    worst = ranked.select(
        F.col("lang").alias("lang2"), F.col("bucket").alias("bucket2"),
        F.col("rn").alias("rn2"),
        F.col("doc_id").alias("rejected_id"),
        F.col("score_ppm").alias("rejected_score"),
    )
    pairs = best.join(
        worst,
        (F.col("lang") == F.col("lang2"))
        & (F.col("bucket") == F.col("bucket2"))
        & (F.col("rn2") == F.col("cnt") + 1 - F.col("rn")),
    )
    return pairs.filter(
        F.col("chosen_score") > F.col("rejected_score")
    ).select(
        "lang",
        F.col("bucket").cast("int").alias("bucket"),
        F.col("rn").cast("int").alias("pair_rank"),
        "chosen_id",
        "rejected_id",
        (F.col("chosen_score") - F.col("rejected_score"))
        .alias("margin_ppm"),
    )


ORACLE_DPO_PAIRS = f"""
WITH scored AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) % {DPO_BUCKETS} AS bucket,
         CAST(floor(1000000.0 * len(list_distinct(
                 string_split_regex(text, '\\s+')))
              / len(string_split_regex(text, '\\s+'))) AS BIGINT)
           AS score_ppm
  FROM documents
),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY lang, bucket
                            ORDER BY score_ppm DESC, doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY lang, bucket) AS cnt
  FROM scored
)
SELECT a.lang,
       CAST(a.bucket AS INT) AS bucket,
       CAST(a.rn AS INT) AS pair_rank,
       a.doc_id AS chosen_id,
       b.doc_id AS rejected_id,
       a.score_ppm - b.score_ppm AS margin_ppm
FROM ranked a
JOIN ranked b
  ON a.lang = b.lang AND a.bucket = b.bucket
 AND b.rn = a.cnt + 1 - a.rn
WHERE a.rn * 2 <= a.cnt AND a.score_ppm > b.score_ppm
"""


QUERIES["doc_dpo_pairs"] = QuerySpec(
    q_dpo_pairs,
    ORACLE_DPO_PAIRS,
    "DPO preference pairs: bucketed best-vs-worst pairing, exact margins",
)


# ---------------------------------------------------------------------------
# T5/UL2 span-corruption objective prep: deterministic span selection,
# sentinel substitution, and (input, target) rendering.

SPANC_W = 16   # window size in tokens; one corrupted span per window
SPANC_L = 3    # corrupted span length


def q_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Denoising-objective training-pair assembly (the T5/UL2 span
    corruption shape): each full SPANC_W-token window of a document
    gets one SPANC_L-token span corrupted, the span start drawn
    DETERMINISTICALLY from md5(doc_id:window) so the oracle replays
    the exact selection (no RNG); the input swaps each span for its
    <extra_id_w> sentinel and the target lists sentinel + the removed
    tokens, per the published objective. Both rendered strings are
    emitted and compared bit-for-bit, plus exact counts and the
    span-start checksum. Trailing tokens past the last full window
    stay uncorrupted input, as do sub-window documents.

    Spark shape: pure in-row higher-order functions (slice / flatten /
    transform over the window sequence) — zero shuffle, zero Python;
    embarrassingly parallel per document at any corpus size."""
    d = read_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), r"\s+")
    n = F.size(words)
    nw = F.floor(n / SPANC_W).cast("int")
    # guard the empty case: sequence(0, -1) would DESCEND, not empty
    widx = F.when(nw > 0, F.sequence(F.lit(0), nw - 1)).otherwise(
        F.array().cast("array<int>"))

    def local_start(w):
        return F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"),
                               F.lit(":"), w.cast("string"))),
                1, 15,
            ), 16, 10,
        ).cast("bigint") % (SPANC_W - SPANC_L + 1)

    def g_start(w):  # 0-based global span start
        return w * SPANC_W + local_start(w)

    def sentinel(w):
        return F.concat(F.lit("<extra_id_"), w.cast("string"),
                        F.lit(">"))

    input_toks = F.concat(
        F.flatten(F.transform(
            widx,
            lambda w: F.concat(
                F.slice(words, w * SPANC_W + 1,
                        local_start(w).cast("int")),
                F.array(sentinel(w)),
                F.slice(
                    words,
                    (g_start(w) + SPANC_L + 1).cast("int"),
                    (SPANC_W - local_start(w) - SPANC_L).cast("int"),
                ),
            ),
        )),
        F.slice(words, nw * SPANC_W + 1, n - nw * SPANC_W),
    )
    target_toks = F.flatten(F.transform(
        widx,
        lambda w: F.concat(
            F.array(sentinel(w)),
            F.slice(words, (g_start(w) + 1).cast("int"), SPANC_L),
        ),
    ))
    start_sum = F.aggregate(
        widx, F.lit(0).cast("bigint"), lambda acc, w: acc + g_start(w)
    )
    return d.select(
        "doc_id",
        n.cast("int").alias("n_tokens"),
        nw.alias("n_windows"),
        (nw * SPANC_L).cast("int").alias("n_corrupted"),
        start_sum.alias("span_start_sum"),
        F.array_join(input_toks, " ").alias("input_text"),
        F.array_join(target_toks, " ").alias("target_text"),
    )


def _oracle_span_corruption() -> str:
    hexpr = _sql_md5_64("CAST(doc_id AS VARCHAR) || ':' || "
                        "CAST(i.i AS VARCHAR)")
    return rf"""
WITH t AS (
  SELECT doc_id, string_split_regex(text, '\s+') AS w,
         len(string_split_regex(text, '\s+')) AS n
  FROM documents
),
dims AS (
  SELECT doc_id, w, n, CAST(n // {SPANC_W} AS INT) AS nw FROM t
),
wins AS (
  SELECT d.doc_id, i.i AS wi,
         i.i * {SPANC_W} + ({hexpr}) % {SPANC_W - SPANC_L + 1} AS gs
  FROM dims d
  CROSS JOIN LATERAL (SELECT unnest(range(d.nw)) AS i) AS i
),
parts AS (
  SELECT w2.doc_id, w2.wi, w2.gs,
         list_concat(list_concat(
             d.w[w2.wi * {SPANC_W} + 1 : CAST(w2.gs AS INT)],
             ['<extra_id_' || w2.wi || '>']),
             d.w[CAST(w2.gs AS INT) + {SPANC_L} + 1 :
                 (w2.wi + 1) * {SPANC_W}]) AS in_toks,
         list_concat(['<extra_id_' || w2.wi || '>'],
                     d.w[CAST(w2.gs AS INT) + 1 :
                         CAST(w2.gs AS INT) + {SPANC_L}]) AS tg_toks
  FROM wins w2 JOIN dims d USING (doc_id)
),
per_doc AS (
  SELECT doc_id,
         CAST(sum(gs) AS BIGINT) AS span_start_sum,
         string_agg(array_to_string(in_toks, ' '), ' ' ORDER BY wi)
           AS in_body,
         string_agg(array_to_string(tg_toks, ' '), ' ' ORDER BY wi)
           AS target_text
  FROM parts GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(d.n AS INT) AS n_tokens,
       d.nw AS n_windows,
       CAST(d.nw * {SPANC_L} AS INT) AS n_corrupted,
       coalesce(p.span_start_sum, 0) AS span_start_sum,
       CASE
         WHEN d.nw = 0 THEN array_to_string(d.w, ' ')
         WHEN d.n > d.nw * {SPANC_W} THEN p.in_body || ' ' ||
           array_to_string(d.w[d.nw * {SPANC_W} + 1 : d.n], ' ')
         ELSE p.in_body
       END AS input_text,
       coalesce(p.target_text, '') AS target_text
FROM dims d LEFT JOIN per_doc p USING (doc_id)
"""


QUERIES["doc_span_corruption"] = QuerySpec(
    q_span_corruption,
    _oracle_span_corruption(),
    "T5/UL2 span corruption: deterministic spans, sentinel render, "
    "exact (input, target) pair",
)


# ---------------------------------------------------------------------------
# Length-bucketed batching plan: padding-waste accounting for a fixed
# per-batch token budget.

BATCH_TOKENS = 4096
BUCKET_STEP = 32


def q_length_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-efficiency ledger for length-bucketed batching: every
    document pads to the next BUCKET_STEP multiple of its token count;
    each bucket packs floor(BATCH_TOKENS / bucket_len) sequences per
    batch (min 1). Emits per bucket: docs, batches, exact padding
    waste in ppm of the bucket's padded volume — and the waste the
    corpus would pay UNBUCKETED (everything padded to the global max)
    as a broadcast scalar column, so the bucketing win is read
    directly off the result. All integer arithmetic; the shuffle is
    one |buckets|-sized aggregate plus a scalar cross join.

    Reference parity: north-star LLM-pipeline extension (the packing
    twin is doc_pack_sequences; this is the padding-regime
    accounting)."""
    d = read_table(spark, sf_dir, "documents")
    n = F.size(F.split(F.col("text"), r"\s+")).cast("bigint")
    # `div` keeps every quotient in exact 64-bit integer arithmetic —
    # double division + cast would silently truncate wrong once the
    # intermediate products pass 2^53 at large corpus scale.
    per = d.select(n.alias("n_toks")).withColumn(
        "bucket_len",
        F.expr(
            f"((n_toks + {BUCKET_STEP - 1}) div {BUCKET_STEP})"
            f" * {BUCKET_STEP}"
        ),
    )
    gmax = per.agg(
        F.max("bucket_len").alias("gmax"),
        F.sum("n_toks").alias("gtok"),
        F.count(F.lit(1)).alias("gdocs"),
    )
    buckets = per.groupBy("bucket_len").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").alias("sum_toks"),
    )
    out = (
        buckets.crossJoin(F.broadcast(gmax))
        .withColumn(
            "spb",
            F.expr(
                f"greatest(CAST(1 AS BIGINT),"
                f" CAST({BATCH_TOKENS} AS BIGINT) div bucket_len)"
            ),
        )
        .select(
            F.col("bucket_len").cast("int").alias("bucket_len"),
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.expr("(n_docs + spb - 1) div spb")
            .cast("bigint")
            .alias("n_batches"),
            F.expr(
                "((bucket_len * n_docs - sum_toks)"
                " * CAST(1000000 AS BIGINT))"
                " div (bucket_len * n_docs)"
            ).cast("bigint").alias("pad_waste_ppm"),
            F.expr(
                "((gmax * gdocs - gtok) * CAST(1000000 AS BIGINT))"
                " div (gmax * gdocs)"
            ).cast("bigint").alias("unbucketed_waste_ppm"),
        )
    )
    return out


ORACLE_LENGTH_BATCHING = f"""
WITH per AS (
  SELECT len(string_split_regex(text, '\\s+')) AS n_toks,
         ((len(string_split_regex(text, '\\s+')) + {BUCKET_STEP - 1})
          // {BUCKET_STEP}) * {BUCKET_STEP} AS bucket_len
  FROM documents
),
g AS (
  SELECT max(bucket_len) AS gmax, sum(n_toks) AS gtok,
         count(*) AS gdocs
  FROM per
),
b AS (
  SELECT bucket_len, count(*) AS n_docs, sum(n_toks) AS sum_toks
  FROM per GROUP BY bucket_len
)
SELECT CAST(b.bucket_len AS INT) AS bucket_len,
       CAST(b.n_docs AS BIGINT) AS n_docs,
       CAST((b.n_docs + greatest(1, {BATCH_TOKENS} // b.bucket_len) - 1)
            // greatest(1, {BATCH_TOKENS} // b.bucket_len) AS BIGINT)
         AS n_batches,
       CAST((b.bucket_len * b.n_docs - b.sum_toks) * 1000000
            // (b.bucket_len * b.n_docs) AS BIGINT) AS pad_waste_ppm,
       CAST((g.gmax * g.gdocs - g.gtok) * 1000000
            // (g.gmax * g.gdocs) AS BIGINT) AS unbucketed_waste_ppm
FROM b, g
"""


QUERIES["doc_length_batching"] = QuerySpec(
    q_length_batching,
    ORACLE_LENGTH_BATCHING,
    "length-bucketed batching plan: exact padding-waste ledger vs "
    "unbucketed padding",
)
