"""Sharded DuckDB oracle replay for the four gates whose single-statement
oracles exceed DuckDB's memory/disk at sf100h (5M docs / 100M events):
``asof_purchases``, ``range_join_sessions``, ``dedup_paragraphs``,
``sample_mix`` (CORRECTNESS_sf100h.json round 5: oracle OOM / ENOSPC —
the Spark side produced full results in every case).

The comparison digest (tools/check_correctness.stream_digest) is an
order-insensitive fold — per-row md5 combined by xor + modular sum +
count, all associative and commutative — so an oracle split into K
disjoint shards whose union is the full result produces EXACTLY the
digest of the single-statement oracle. Each gate's decomposition:

- asof_purchases / range_join_sessions: every CTE and the final join
  partition by ``user_id`` (ASOF join, sessionization window, range
  join all carry ``user_id`` equality), so the ORIGINAL oracle text
  from ``__spark_entry__.oracle_sql()`` is run verbatim per shard with
  ``events`` rebound to ``events WHERE user_id % K = i`` — no SQL is
  duplicated, so the sharded replay cannot drift from the gate oracle.
- dedup_paragraphs: global winner sets first (which (doc_id, pos)
  survives per paragraph-hash; which window occurrences are excised per
  span-hash), computed over int-only skeletons sharded BY CONTENT HASH
  (strings dropped before any window — the string buildup inside
  row_number partitions is exactly what OOM'd duckdb); then the
  string rebuild runs per DOC shard joining the small winner parquets.
  Hash groups are length-homogeneous (same norm => same length), so
  pre-filtering ln >= 10 before the winner window is exact.
- sample_mix: the DSIR fit's per-bucket counts are pure sums -> partial
  per doc-shard, combined into the 256-row LLR table once (integer
  counts, so the ln() inputs are bit-identical to the one-shot oracle);
  quota/budget lists are global but string-free (computed once);
  scoring + flags run per doc-shard against the materialized tables.

Every shard runs on a FRESH duckdb connection with an explicit
memory_limit and its own temp dir, released before the next shard.

Usage:
  python tools/oracle_sharded.py <sf_dir> <out.json> [--k=N] [gate ...]

Emits the driver-style artifact records (rows_match / schema_match /
hash_match / spark_rows / oracle_rows / err) for the selected gates;
merge into a full sweep with tools/merge_correctness.py. Validate the
shard transform at a scale where the one-shot oracle works (sf0.01 /
sf10h): the sharded digest must match the Spark digest that already
matched the one-shot oracle.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.check_correctness import (  # noqa: E402
    TABLES,
    normalize,
    spark_stream_digest,
)

SHARD_GATES = (
    "asof_purchases",
    "range_join_sessions",
    "dedup_paragraphs",
    "sample_mix",
    "quality_margin",
    "winnow_fps",
    "lm_perplexity",
    "winnow_pairs",
)

# Gates whose oracle output is a PURE PER-DOCUMENT function: every CTE
# either selects from ``documents`` row-wise or computes values that are
# pure functions of a single document's text (the ``dw``/``sgn``
# distinct-word murmur3 tables in quality_margin dedupe words before
# hashing — recomputing them per shard hashes the same words to the
# same buckets). For these the ORIGINAL oracle text runs verbatim per
# shard with ``documents`` rebound to one doc_id shard.
DOC_VERBATIM_GATES = ("quality_margin", "winnow_fps")

_MD5L = "('0x' || substr(md5({x}), 1, 15))::BIGINT"


# ------------------------------------------------------------------ digest
def _digest_rows(cols, row_iter, acc=None):
    """Fold rows into an (xor, sum mod 2^128, count) digest — the same
    normalization + md5 as check_correctness.stream_digest, but
    resumable across shards via ``acc``."""
    import hashlib

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    xor, tot, n = acc if acc else (0, 0, 0)
    for r in row_iter:
        h = hashlib.md5(
            "\x1f".join(normalize(r[i]) for i in order).encode()
        ).digest()
        v = int.from_bytes(h[:16], "big")
        xor ^= v
        tot = (tot + v) % (1 << 128)
        n += 1
    return xor, tot, n


def _fetch_iter(res, batch=100_000):
    while True:
        rows = res.fetchmany(batch)
        if not rows:
            return
        yield from rows


# --------------------------------------------------------------- connection
def _connect(sf_dir: str, tmp_root: str):
    con = duckdb.connect()
    con.execute(f"PRAGMA temp_directory='{tmp_root}'")
    con.execute(f"SET memory_limit='{os.environ.get('DUCKDB_MEM', '32GB')}'")
    # fewer threads + no insertion-order preservation: both cut peak
    # memory on the string-heavy shard queries (duckdb 1.0's window /
    # string buffers are partially untracked, so headroom matters more
    # than parallelism here)
    con.execute(f"SET threads={os.environ.get('DUCKDB_THREADS', '16')}")
    con.execute("SET preserve_insertion_order=false")
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(os.path.realpath(path)):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


# ------------------------------------------------- user_id-sharded replays
def _events_sharded_digest(gate_sql: str, sf_dir: str, k: int, tmp_root: str):
    """Run the verbatim gate oracle per user_id shard: rebind the
    ``events`` view to one shard of users and fold the digests."""
    cols, acc = None, None
    for i in range(k):
        con = _connect(sf_dir, tmp_root)
        con.execute("DROP VIEW events")
        path = f"{sf_dir}/events.parquet"
        if os.path.isdir(os.path.realpath(path)):
            path = f"{path}/*.parquet"
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM '{path}' "
            f"WHERE user_id % {k} = {i}"
        )
        res = con.execute(gate_sql)
        ocols = [d[0] for d in res.description]
        if cols is None:
            cols = ocols
        assert ocols == cols, f"shard {i} columns drifted: {ocols}"
        acc = _digest_rows(cols, _fetch_iter(res), acc)
        con.close()
        print(f"#   shard {i + 1}/{k}: cumulative rows {acc[2]}",
              file=sys.stderr, flush=True)
    return sorted(cols), acc


# ------------------------------------------------ doc-sharded verbatim
def _documents_sharded_digest(gate_sql: str, sf_dir: str, k: int,
                              tmp_root: str):
    """Run the verbatim gate oracle per doc_id shard: rebind the
    ``documents`` view to one shard and fold the digests. Exact only for
    DOC_VERBATIM_GATES (per-document semantics)."""
    cols, acc = None, None
    for i in range(k):
        con = _connect(sf_dir, tmp_root)
        con.execute("DROP VIEW documents")
        path = f"{sf_dir}/documents.parquet"
        if os.path.isdir(os.path.realpath(path)):
            path = f"{path}/*.parquet"
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{path}' "
            f"WHERE doc_id % {k} = {i}"
        )
        res = con.execute(gate_sql)
        ocols = [d[0] for d in res.description]
        if cols is None:
            cols = ocols
        assert ocols == cols, f"shard {i} columns drifted: {ocols}"
        acc = _digest_rows(cols, _fetch_iter(res), acc)
        con.close()
        print(f"#   shard {i + 1}/{k}: cumulative rows {acc[2]}",
              file=sys.stderr, flush=True)
    return sorted(cols), acc


# ---------------------------------------------------------- lm_perplexity
def _lm_perplexity_digest(sf_dir: str, k: int, tmp_root: str, wd: str):
    """Global LM count tables from per-doc-shard PARTIAL integer counts
    (shard order irrelevant -> the log2() inputs are bit-identical to
    the one-shot oracle), then per-doc scoring per shard joining the
    materialized logp tables. Mirrors the sample_mix fit decomposition.

    SYNC WARNING: unlike asof/range/paragraph shards, this decomposition
    re-states the gate's SQL and constants (the '\\S+' tokenizer, +1
    Laplace smoothing, the 1e-4 cross-entropy quantization) instead of
    rebinding the oracle_sql() text — it duplicates
    ``__spark_entry__.oracle_sql()["lm_perplexity"]``. If that gate
    changes, change THIS builder too; a desync shows up as a false RED
    (digest mismatch), never a false green."""
    uni_dc = """
        SELECT doc_id, tok, count(*) AS c FROM (
          SELECT doc_id,
                 unnest(regexp_extract_all(lower(trim(text)), '\\S+'))
                   AS tok
          FROM documents {W}
        ) GROUP BY 1, 2
    """
    bi_dc = """
        SELECT doc_id, bg AS tok, count(*) AS c FROM (
          SELECT doc_id, l[i] || ' ' || l[i + 1] AS bg
          FROM (
            SELECT doc_id, l, unnest(generate_series(1, len(l) - 1)) AS i
            FROM (SELECT doc_id,
                         regexp_extract_all(lower(trim(text)), '\\S+') AS l
                  FROM documents {W})
          )
        ) GROUP BY 1, 2
    """
    # ---- stage C: per-shard partial (tok -> count) for both orders
    for tag, dc in (("uni", uni_dc), ("bi", bi_dc)):
        for i in range(k):
            con = _connect(sf_dir, tmp_root)
            con.execute(f"""
                COPY (
                  SELECT tok, sum(c) AS c FROM (
                    {dc.format(W=f"WHERE doc_id % {k} = {i}")}
                  ) GROUP BY tok
                ) TO '{wd}/{tag}_c_{i}.parquet' (FORMAT PARQUET)
            """)
            con.close()
        print(f"#   C {tag} partials done", file=sys.stderr, flush=True)
        # combine -> logp table (integer sums; log2 sees the one-shot
        # oracle's exact doubles). The unigram model is add-1 over the
        # corpus (n + v); the BIGRAM model is CONDITIONAL: add-1 over
        # the context count c_w1 (all bigrams sharing the first word)
        # with the UNIGRAM vocab size v — both replayed from the
        # combined integer partials.
        con = _connect(sf_dir, tmp_root)
        if tag == "uni":
            con.execute(f"""
                COPY (
                  WITH vocab AS (
                    SELECT tok, sum(c) AS c_w
                    FROM '{wd}/uni_c_*.parquet' GROUP BY tok
                  ), tot AS (
                    SELECT sum(c_w)::DOUBLE AS n, count(*)::DOUBLE AS v
                    FROM vocab
                  )
                  SELECT tok, log2((c_w + 1.0) / (n + 1.0 * v)) AS logp
                  FROM vocab, tot
                ) TO '{wd}/uni_lp.parquet' (FORMAT PARQUET)
            """)
        else:
            con.execute(f"""
                COPY (
                  WITH corpus AS (
                    SELECT tok AS bg, sum(c) AS c_b
                    FROM '{wd}/bi_c_*.parquet' GROUP BY tok
                  ), ctx AS (
                    SELECT split_part(bg, ' ', 1) AS w1, sum(c_b) AS c_w1
                    FROM corpus GROUP BY 1
                  ), vv AS (
                    SELECT count(*)::DOUBLE AS v FROM (
                      SELECT DISTINCT tok FROM '{wd}/uni_c_*.parquet'
                    )
                  )
                  SELECT corpus.bg AS tok,
                         log2((c_b + 1.0) / (c_w1 + 1.0 * v)) AS logp
                  FROM corpus
                  JOIN ctx ON split_part(corpus.bg, ' ', 1) = ctx.w1, vv
                ) TO '{wd}/bi_lp.parquet' (FORMAT PARQUET)
            """)
        con.close()
        print(f"#   L {tag} logp table done", file=sys.stderr, flush=True)

    # ---- final: per-doc scoring per shard (gate output columns)
    cols, acc = None, None
    for i in range(k):
        con = _connect(sf_dir, tmp_root)
        W = f"WHERE doc_id % {k} = {i}"
        res = con.execute(f"""
            WITH udc AS ({uni_dc.format(W=W)}),
            uper AS (
              SELECT d.doc_id,
                     coalesce(sum(udc.c), 0)::BIGINT AS n_tokens,
                     sum(udc.c * lp.logp) AS slp
              FROM (SELECT doc_id FROM documents {W}) d
              LEFT JOIN udc ON udc.doc_id = d.doc_id
              LEFT JOIN '{wd}/uni_lp.parquet' lp ON lp.tok = udc.tok
              GROUP BY d.doc_id
            ),
            bdc AS ({bi_dc.format(W=W)}),
            bper AS (
              SELECT d.doc_id,
                     coalesce(sum(bdc.c), 0)::BIGINT AS n_bigrams,
                     sum(bdc.c * lp.logp) AS slp
              FROM (SELECT doc_id FROM documents {W}) d
              LEFT JOIN bdc ON bdc.doc_id = d.doc_id
              LEFT JOIN '{wd}/bi_lp.parquet' lp ON lp.tok = bdc.tok
              GROUP BY d.doc_id
            )
            SELECT u.doc_id, u.n_tokens,
                   CAST(round(CASE WHEN u.n_tokens = 0 THEN NULL
                                   ELSE -u.slp / u.n_tokens END * 1e4)
                        AS BIGINT) AS ceq_unigram,
                   b.n_bigrams,
                   CAST(round(CASE WHEN b.n_bigrams = 0 THEN NULL
                                   ELSE -b.slp / b.n_bigrams END * 1e4)
                        AS BIGINT) AS ceq_bigram
            FROM uper u JOIN bper b ON u.doc_id = b.doc_id
        """)
        ocols = [d[0] for d in res.description]
        if cols is None:
            cols = ocols
        assert ocols == cols
        acc = _digest_rows(cols, _fetch_iter(res), acc)
        con.close()
        print(f"#   score shard {i + 1}/{k}: cumulative rows {acc[2]}",
              file=sys.stderr, flush=True)
    return sorted(cols), acc


# ------------------------------------------------------- dedup_paragraphs
_PAGE = (
    "text || chr(10) || chr(10) || 'Subscribe To Our Newsletter'"
    " || chr(10) || chr(10) || 'closing remarks for doc '"
    " || doc_id::VARCHAR"
)
_SPAGE = "'spandup alpha beta gamma delta epsilon zeta eta ' || text"


def _dedup_paragraphs_digest(sf_dir: str, k: int, tmp_root: str, wd: str):
    # ---- stage P0: paragraph skeleton, strings dropped (streamed COPY)
    con = _connect(sf_dir, tmp_root)
    con.execute(f"""
        COPY (
          WITH t AS (SELECT doc_id, {_PAGE} AS page FROM documents),
          s AS (SELECT doc_id, string_split(page, chr(10) || chr(10)) AS l
                FROM t),
          ps AS (
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, len(l)),
                     p -> struct_pack(pos := p, nrm := trim(lower(l[p])))))
                     AS u
            FROM s
          )
          SELECT doc_id, u.pos AS pos,
                 {_MD5L.format(x="u.nrm")} AS hk,
                 length(u.nrm) AS ln
          FROM ps
        ) TO '{wd}/para_skel.parquet' (FORMAT PARQUET)
    """)
    con.close()
    print("#   P0 paragraph skeleton done", file=sys.stderr, flush=True)

    # ---- stage P1: paragraph winners per HASH shard (ints only).
    # Hash groups are length-homogeneous, so restricting the winner
    # window to ln >= 10 rows is exact (ln < 10 rows are always kept).
    for j in range(k):
        con = _connect(sf_dir, tmp_root)
        con.execute(f"""
            COPY (
              SELECT doc_id, pos FROM '{wd}/para_skel.parquet'
              WHERE ln >= 10 AND hk % {k} = {j}
              QUALIFY row_number() OVER (
                PARTITION BY hk ORDER BY doc_id, pos) = 1
            ) TO '{wd}/para_winners_{j}.parquet' (FORMAT PARQUET)
        """)
        con.close()
    print("#   P1 paragraph winners done", file=sys.stderr, flush=True)

    # ---- stage S0: span-window skeleton (doc_id, strt, window-hash)
    con = _connect(sf_dir, tmp_root)
    wh = _MD5L.format(x="array_to_string(list_slice(wl, i, i + 7), ' ')")
    con.execute(f"""
        COPY (
          WITH st AS (SELECT doc_id, {_SPAGE} AS spage FROM documents),
          stok AS (
            SELECT doc_id,
                   regexp_extract_all(lower(trim(spage)), '\\S+') AS wl
            FROM st
          )
          SELECT doc_id, u.strt AS strt, u.h AS h
          FROM (SELECT doc_id,
                       unnest(list_transform(
                         generate_series(1, greatest(len(wl) - 7, 0)),
                         i -> struct_pack(strt := i - 1, h := {wh}))) AS u
                FROM stok)
        ) TO '{wd}/span_skel.parquet' (FORMAT PARQUET)
    """)
    con.close()
    print("#   S0 span skeleton done", file=sys.stderr, flush=True)

    # ---- stage S1: excised occurrences per HASH shard
    for j in range(k):
        con = _connect(sf_dir, tmp_root)
        con.execute(f"""
            COPY (
              SELECT doc_id, strt FROM '{wd}/span_skel.parquet'
              WHERE h % {k} = {j}
              QUALIFY count(*) OVER (PARTITION BY h) >= 2
                  AND row_number() OVER (
                        PARTITION BY h ORDER BY doc_id, strt) > 1
            ) TO '{wd}/span_excised_{j}.parquet' (FORMAT PARQUET)
        """)
        con.close()
    print("#   S1 span excisions done", file=sys.stderr, flush=True)

    # ---- final: string rebuild per DOC shard, joining the winner sets.
    # Twice as fine as the winner stages: this is the only stage holding
    # rebuilt page strings in memory, and duckdb's string buffers are
    # partially untracked by its memory accounting.
    k2 = k * 2
    cols, acc = None, None
    for i in range(k2):
        con = _connect(sf_dir, tmp_root)
        res = con.execute(f"""
            WITH docs_i AS (
              SELECT doc_id, text FROM documents WHERE doc_id % {k2} = {i}
            ), t AS (SELECT doc_id, {_PAGE} AS page FROM docs_i),
            s AS (SELECT doc_id, string_split(page, chr(10) || chr(10)) AS l
                  FROM t),
            ps AS (
              SELECT doc_id,
                     unnest(list_transform(generate_series(1, len(l)),
                       p -> struct_pack(pos := p, para := l[p]))) AS u
              FROM s
            ), paras AS (
              SELECT doc_id, u.pos AS pos, u.para AS para,
                     length(trim(lower(u.para))) AS ln
              FROM ps
            ), pw AS (
              SELECT doc_id, pos FROM '{wd}/para_winners_*.parquet'
              WHERE doc_id % {k2} = {i}
            ), kept AS (
              SELECT p.doc_id, p.pos, p.para
              FROM paras p
              LEFT JOIN pw ON pw.doc_id = p.doc_id AND pw.pos = p.pos
              WHERE p.ln < 10 OR pw.doc_id IS NOT NULL
            ), rebuilt AS (
              SELECT doc_id,
                     string_agg(para, chr(10) || chr(10) ORDER BY pos)
                       AS cleaned
              FROM kept GROUP BY doc_id
            ),
            st AS (SELECT doc_id, {_SPAGE} AS spage FROM docs_i),
            stok AS (
              SELECT doc_id, regexp_extract_all(trim(spage), '\\S+') AS w
              FROM st
            ), rem AS (
              SELECT doc_id, strt AS s, strt + 8 AS e
              FROM '{wd}/span_excised_*.parquet'
              WHERE doc_id % {k2} = {i}
            ), isl AS (
              SELECT doc_id, s, e,
                     CASE WHEN max(e) OVER pw IS NULL
                            OR s > max(e) OVER pw THEN 1 ELSE 0 END AS nw
              FROM rem
              WINDOW pw AS (PARTITION BY doc_id ORDER BY s
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING)
            ), isl2 AS (
              SELECT doc_id, s, e,
                     sum(nw) OVER (PARTITION BY doc_id ORDER BY s
                                   ROWS UNBOUNDED PRECEDING) AS grp
              FROM isl
            ), merged AS (
              SELECT doc_id, min(s) AS s, max(e) AS e
              FROM isl2 GROUP BY doc_id, grp
            ), toks2 AS (
              SELECT doc_id, u.pos AS pos, u.tok AS tok
              FROM (SELECT doc_id,
                           unnest(list_transform(generate_series(1, len(w)),
                             p -> struct_pack(pos := p - 1, tok := w[p])))
                             AS u
                    FROM stok)
            ), excl AS (
              -- expand merged intervals to (doc_id, pos) rows: the
              -- equality anti-join below is a plain hash join, where the
              -- correlated range NOT EXISTS drove duckdb into a
              -- nested-loop path that segfaulted at 312K docs/shard.
              -- Expansion is bounded by the shard's excised-token count.
              SELECT doc_id, unnest(generate_series(s, e - 1)) AS pos
              FROM merged
            ), skept AS (
              SELECT tk.doc_id, tk.pos, tk.tok FROM toks2 tk
              LEFT JOIN excl ON excl.doc_id = tk.doc_id
                            AND excl.pos = tk.pos
              WHERE excl.doc_id IS NULL
            ), srebuilt AS (
              SELECT doc_id,
                     string_agg(tok, ' ' ORDER BY pos) AS span_cleaned
              FROM skept GROUP BY doc_id
            )
            SELECT d.doc_id,
                   coalesce(r.cleaned, '') AS cleaned,
                   coalesce(sr.span_cleaned, '') AS span_cleaned
            FROM docs_i d
            LEFT JOIN rebuilt r ON r.doc_id = d.doc_id
            LEFT JOIN srebuilt sr ON sr.doc_id = d.doc_id
        """)
        ocols = [d[0] for d in res.description]
        if cols is None:
            cols = ocols
        assert ocols == cols
        acc = _digest_rows(cols, _fetch_iter(res), acc)
        con.close()
        print(f"#   rebuild shard {i + 1}/{k2}: cumulative rows {acc[2]}",
              file=sys.stderr, flush=True)
    return sorted(cols), acc


# ------------------------------------------------------------- sample_mix
def _sample_mix_digest(sf_dir: str, k: int, tmp_root: str, wd: str):
    import __spark_entry__ as entry

    mm3 = entry._mm3_sqlhash_sgn_ctes()
    b, alpha = 256, 0.5

    def fit_ctes(shard_filter: str) -> str:
        return f"""
          d AS (SELECT doc_id, lang, coalesce(text, '') AS t
                FROM documents {shard_filter}),
          tok AS (
            SELECT doc_id, lang,
                   list_filter(regexp_split_to_array(lower(t), '\\W+'),
                               x -> length(x) >= 1) AS ws
            FROM d
          ), uni AS (SELECT doc_id, lang, unnest(ws) AS w FROM tok),
          wc AS (SELECT doc_id, lang, w, count(*) AS tf FROM uni
                 GROUP BY ALL),
          dw AS (SELECT DISTINCT w FROM wc),
          {mm3},
          bk AS (SELECT w, ((h32 % {b}) + {b}) % {b} AS bkt FROM sgn),
          docb AS (
            SELECT wc.doc_id, wc.lang, bk.bkt, sum(wc.tf) AS tf
            FROM wc JOIN bk ON wc.w = bk.w
            GROUP BY 1, 2, 3
          )"""

    # ---- stage Q: quota + budget doc lists (global, string-free windows)
    con = _connect(sf_dir, tmp_root)
    con.execute(f"""
        COPY (
          SELECT doc_id FROM documents
          QUALIFY row_number() OVER (
            PARTITION BY source ORDER BY n_chars DESC, doc_id
          ) <= 5
        ) TO '{wd}/quota.parquet' (FORMAT PARQUET)
    """)
    h = _MD5L.format(x="doc_id::VARCHAR || '#' || '0'")
    con.execute(f"""
        COPY (
          WITH t AS (
            SELECT doc_id, lang,
                   len(regexp_extract_all(trim(text), '\\S+'))::INT
                     AS n_tokens,
                   {h} AS hv
            FROM documents
          ), c AS (
            SELECT doc_id, lang, n_tokens,
                   sum(n_tokens::BIGINT) OVER (
                     PARTITION BY lang ORDER BY hv, doc_id
                     ROWS UNBOUNDED PRECEDING) AS cum
            FROM t
          )
          SELECT doc_id FROM c
          WHERE cum - n_tokens < CASE lang WHEN 'en' THEN 6000
                                           ELSE 3000 END
        ) TO '{wd}/budget.parquet' (FORMAT PARQUET)
    """)
    con.close()
    print("#   Q quota+budget lists done", file=sys.stderr, flush=True)

    # ---- stage F: DSIR fit partials per doc shard (per-bucket sums)
    for i in range(k):
        con = _connect(sf_dir, tmp_root)
        con.execute(f"""
            COPY (
              WITH {fit_ctes(f"WHERE doc_id % {k} = {i}")}
              SELECT bkt,
                     sum(tf) AS raw_c,
                     sum(CASE WHEN lang = 'en' THEN tf ELSE 0 END) AS tgt_c
              FROM docb GROUP BY bkt
            ) TO '{wd}/fit_{i}.parquet' (FORMAT PARQUET)
        """)
        con.close()
    print("#   F fit partials done", file=sys.stderr, flush=True)

    # ---- stage L: combine partials into the LLR table. The bucket
    # counts are integer sums (shard order irrelevant), so ln() sees the
    # bit-identical doubles the one-shot oracle computes.
    con = _connect(sf_dir, tmp_root)
    con.execute(f"""
        COPY (
          WITH agg AS (
            SELECT bkt, sum(raw_c) AS rc, sum(tgt_c) AS tc
            FROM '{wd}/fit_*.parquet' GROUP BY 1
          ), tot AS (
            SELECT coalesce(sum(rc), 0) AS nr, coalesce(sum(tc), 0) AS nt
            FROM agg
          )
          SELECT g.bkt,
                 CAST(round(1e6 * (
                   (ln(coalesce(a.tc, 0) + {alpha}) - ln(nt + {alpha * b}))
                   - (ln(coalesce(a.rc, 0) + {alpha}) - ln(nr + {alpha * b}))
                 )) AS BIGINT) AS q
          FROM (SELECT unnest(generate_series(0, {b - 1})) AS bkt) g
          LEFT JOIN agg a ON a.bkt = g.bkt
          CROSS JOIN tot
        ) TO '{wd}/llr.parquet' (FORMAT PARQUET)
    """)
    con.close()
    print("#   L LLR table done", file=sys.stderr, flush=True)

    # ---- final: flags + scoring per doc shard
    strat_h = _MD5L.format(x="doc_id::VARCHAR || '#' || '0'")
    cols, acc = None, None
    for i in range(k):
        con = _connect(sf_dir, tmp_root)
        res = con.execute(f"""
            WITH base AS (
              SELECT doc_id, lang, source, n_chars,
                     len(regexp_extract_all(trim(text), '\\S+'))::INT
                       AS n_tokens
              FROM documents WHERE doc_id % {k} = {i}
            ),
            {fit_ctes(f"WHERE doc_id % {k} = {i}")},
            llr AS (SELECT bkt, q FROM '{wd}/llr.parquet'),
            wsum AS (
              SELECT docb.doc_id, sum(docb.tf * llr.q) AS wq
              FROM docb JOIN llr ON llr.bkt = docb.bkt
              GROUP BY 1
            ), strat AS (
              SELECT doc_id FROM documents
              WHERE doc_id % {k} = {i}
                AND ({strat_h})::DOUBLE / 1152921504606846976.0
                  < CASE lang WHEN 'de' THEN 0.6::DOUBLE
                              WHEN 'en' THEN 0.3::DOUBLE
                              WHEN 'zh' THEN 1.0::DOUBLE
                              ELSE 0.2::DOUBLE END
            ), quota AS (
              SELECT doc_id FROM '{wd}/quota.parquet'
              WHERE doc_id % {k} = {i}
            ), budget AS (
              SELECT doc_id FROM '{wd}/budget.parquet'
              WHERE doc_id % {k} = {i}
            )
            SELECT b.doc_id, b.lang, b.source, b.n_chars, b.n_tokens,
                   s.doc_id IS NOT NULL AS in_stratified,
                   q.doc_id IS NOT NULL AS in_quota,
                   g.doc_id IS NOT NULL AS in_budget,
                   coalesce(w.wq, 0)::BIGINT AS dsir_w_q
            FROM base b
            LEFT JOIN strat s ON s.doc_id = b.doc_id
            LEFT JOIN quota q ON q.doc_id = b.doc_id
            LEFT JOIN budget g ON g.doc_id = b.doc_id
            LEFT JOIN wsum w ON w.doc_id = b.doc_id
        """)
        ocols = [d[0] for d in res.description]
        if cols is None:
            cols = ocols
        assert ocols == cols
        acc = _digest_rows(cols, _fetch_iter(res), acc)
        con.close()
        print(f"#   score shard {i + 1}/{k}: cumulative rows {acc[2]}",
              file=sys.stderr, flush=True)
    return sorted(cols), acc


# ------------------------------------------------------------ winnow_pairs
def _winnow_pairs_digest(sf_dir: str, k: int, tmp_root: str, wd: str):
    """Both winnowing paths (md5 expression + polynomial kernel replay),
    sharded twice: (doc_id, fp) per DOC shard (per-doc fingerprints from
    the gate oracle's own ``_winnow_fps_ctes`` over one doc_id shard),
    then the global df-cap + pair counting per FP shard — the df count
    and each (a, b) pair's shared-count are sums over disjoint fp shards,
    combined exactly in one final pass (integer counts). k, w, max_df and
    min_shared are the gate's (``__spark_entry__._WINNOW``)."""
    from __spark_entry__ import _WINNOW, _winnow_fps_ctes

    for kind, path in (("ex", "md5"), ("fa", "poly")):
        for i in range(k):
            shard = f"(SELECT * FROM documents WHERE doc_id % {k} = {i})"
            con = _connect(sf_dir, tmp_root)
            con.execute(f"""
                COPY (
                  WITH {_winnow_fps_ctes(path, _WINNOW["k"], _WINNOW["w"],
                                         shard)}
                  SELECT doc_id, fp FROM e
                ) TO '{wd}/{kind}_e_{i}.parquet' (FORMAT PARQUET)
            """)
            con.close()
        print(f"#   E {kind} fingerprints done", file=sys.stderr, flush=True)

        # per FP shard: df-cap then partial pair counts
        for j in range(k):
            con = _connect(sf_dir, tmp_root)
            con.execute(f"""
                COPY (
                  WITH e AS (
                    SELECT doc_id, fp FROM '{wd}/{kind}_e_*.parquet'
                    WHERE fp % {k} = {j}
                  ), fdf AS (
                    SELECT fp, count(*) AS dfc FROM e GROUP BY fp
                  ), kept AS (
                    SELECT e.doc_id, e.fp FROM e JOIN fdf USING (fp)
                    WHERE fdf.dfc <= {_WINNOW["max_df"]}
                  )
                  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS c
                  FROM kept a JOIN kept b
                    ON a.fp = b.fp AND a.doc_id < b.doc_id
                  GROUP BY 1, 2
                ) TO '{wd}/{kind}_p_{j}.parquet' (FORMAT PARQUET)
            """)
            con.close()
        print(f"#   P {kind} pair partials done", file=sys.stderr,
              flush=True)
        con = _connect(sf_dir, tmp_root)
        con.execute(f"""
            COPY (
              SELECT a, b, sum(c) AS shared
              FROM '{wd}/{kind}_p_*.parquet'
              GROUP BY a, b HAVING sum(c) >= {_WINNOW["min_shared"]}
            ) TO '{wd}/{kind}_pairs.parquet' (FORMAT PARQUET)
        """)
        con.close()
        print(f"#   F {kind} pairs combined", file=sys.stderr, flush=True)

    con = _connect(sf_dir, tmp_root)
    res = con.execute(f"""
        SELECT coalesce(ex.a, fa.a) AS a, coalesce(ex.b, fa.b) AS b,
               coalesce(ex.shared, 0)::BIGINT AS shared_expr,
               coalesce(fa.shared, 0)::BIGINT AS shared_fast
        FROM '{wd}/ex_pairs.parquet' ex
        FULL JOIN '{wd}/fa_pairs.parquet' fa
          ON ex.a = fa.a AND ex.b = fa.b
    """)
    cols = [d[0] for d in res.description]
    acc = _digest_rows(cols, _fetch_iter(res))
    con.close()
    return sorted(cols), acc


# --------------------------------------------------------------------- main
def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir, out_path = args[0], args[1]
    gates = args[2:] or list(SHARD_GATES)
    k = 16
    for a in sys.argv[1:]:
        if a.startswith("--k="):
            k = int(a.split("=", 1)[1])

    import __spark_entry__ as entry
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    out: dict = {}
    for name in gates:
        assert name in SHARD_GATES, f"{name} has no sharded replay"
        rec = {
            "rows_match": False, "schema_match": False, "hash_match": False,
            "spark_rows": None, "oracle_rows": None, "err": None,
        }
        out[name] = rec
        tmp_root = tempfile.mkdtemp(prefix=f"duck_shard_{name}_")
        wd = tempfile.mkdtemp(prefix=f"oracle_shard_{name}_")
        try:
            print(f"# {name}: spark side", file=sys.stderr, flush=True)
            sdf = qs[name](spark, sf_dir)
            sc, sdig = spark_stream_digest(sdf, sdf.columns)
            rec["spark_rows"] = sdig[2]
            print(f"# {name}: oracle side, {k} shards",
                  file=sys.stderr, flush=True)
            if name in ("asof_purchases", "range_join_sessions"):
                oc, odig = _events_sharded_digest(
                    oracles[name], sf_dir, k, tmp_root)
            elif name in DOC_VERBATIM_GATES:
                oc, odig = _documents_sharded_digest(
                    oracles[name], sf_dir, k, tmp_root)
            elif name == "lm_perplexity":
                oc, odig = _lm_perplexity_digest(sf_dir, k, tmp_root, wd)
            elif name == "winnow_pairs":
                oc, odig = _winnow_pairs_digest(sf_dir, k, tmp_root, wd)
            elif name == "dedup_paragraphs":
                oc, odig = _dedup_paragraphs_digest(sf_dir, k, tmp_root, wd)
            else:
                oc, odig = _sample_mix_digest(sf_dir, k, tmp_root, wd)
            rec["oracle_rows"] = odig[2]
            rec["rows_match"] = sdig[2] == odig[2]
            rec["schema_match"] = sc == oc
            rec["hash_match"] = sdig == odig and sc == oc
        except Exception as e:  # noqa: BLE001 - recorded in the artifact
            rec["err"] = f"{type(e).__name__}: {e}"[:500]
        finally:
            shutil.rmtree(tmp_root, ignore_errors=True)
            shutil.rmtree(wd, ignore_errors=True)
        status = "OK " if rec["hash_match"] else "FAIL"
        print(f"{status} {name}: {rec['spark_rows']} vs {rec['oracle_rows']}"
              + (f" err={rec['err']}" if rec["err"] else ""), flush=True)

    n_ok = sum(1 for r in out.values() if r["hash_match"])
    artifact = {"_meta": {
        "sf_dir": sf_dir, "gates": len(out), "green": n_ok,
        "method": f"tools/oracle_sharded.py - one-shot oracle text replayed "
                  f"over {k} disjoint shards (user_id for the event gates; "
                  f"doc_id verbatim for the per-document gates; content-hash "
                  f"winner sets + doc_id rebuild for dedup_paragraphs; "
                  f"partial integer count tables for sample_mix / "
                  f"lm_perplexity / winnow_pairs), digests xor/sum-combined",
    }}
    artifact.update(out)
    with open(out_path, "w") as fh:
        json.dump(artifact, fh, indent=1)
    print(f"{n_ok}/{len(out)} green -> {out_path}")


if __name__ == "__main__":
    main()
