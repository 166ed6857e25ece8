"""Seeded inputs and their expected verdicts, built with DuckDB alone.

The generator writes the engine's ``documents`` layout
(``doc_id string, spans array<struct<kind,text,media_ref,offset>>,
partition string``) and a ``media_catalog`` as plain parquet. Every draw is
DuckDB's ``hash`` of (row id, seed, salt), so one seed always gives the same
files. The oracle recomputes each rule of the ``run_validation`` suite in
DuckDB SQL over those files; it never imports engine code.
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil

import duckdb

N_PARTITIONS = 32
N_MEDIA = 2000
KINDS = ("text", "image", "audio", "table")
PSI_THRESHOLD = 0.25
PSI_EPS = 1e-6

# Planted defects: a doc whose draw ``hash(id, seed, 'def') % 1000`` equals
# one of these codes carries that defect, so each is about 1 per mille.
NULL_ID, DUP_PREV, DANGLING, NULL_TEXT, NEG_OFF, DUP_OFF, EMPTY, NULL_OFF, \
    PII, BAD_KIND, MEDIA_MISSING = range(11)

# The suite run_validation.main builds, in its rule order.
ROW_RULES = (
    "not_null:doc_id", "non_empty:spans", "text_present_on_text_spans",
    "media_ref_present_on_media_spans", "span_kinds_accepted",
    "offsets_valid_native", "no_pii", "span_sequence_valid",
)
DATASET_RULES = ("unique:doc_id", "referential:media_ref")
PSI_RULE = "drift_psi:span_kind"

_SPANS_TYPE = ('STRUCT(kind VARCHAR, "text" VARCHAR, media_ref VARCHAR, '
               '"offset" INTEGER)[]')
_PII_PATTERNS = (
    r"\b\d{4}(-\d{4}){3}\b",
    r"\b\d{3}-\d{2}-\d{4}\b",
    r"\b\d{3}-\d{3}-\d{4}\b",
    r"\b(\d{1,3}\.){3}\d{1,3}\b",
    r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
)


@dataclasses.dataclass(frozen=True)
class Corpus:
    """Shape of one generated document set."""

    n_docs: int
    id_prefix: str = "d"
    #: per-mille share of docs forced into partition p0 (0 = uniform)
    skew_permille: int = 0
    #: cumulative per-cent cut points for text / image / audio (rest table)
    kind_cuts: tuple[int, int, int] = (50, 75, 90)
    #: per-mille of docs whose doc_id copies a random other doc's id
    dup_permille: int = 0
    #: per-mille of docs whose doc_id is one of 100 shared hot ids
    hot_dup_permille: int = 0
    #: per-mille of docs whose first span points at a missing media_ref
    dangling_permille: int = 0
    #: partition whose span kinds shift from text to image (None = none)
    drift_partition: int | None = None
    n_files: int = 8


def _glob(path: str) -> str:
    return os.path.join(path, "*.parquet")


def _kind_sql(cuts: tuple[int, int, int]) -> str:
    a, b, c = cuts
    return (f"CASE WHEN kr < {a} THEN 'text' WHEN kr < {b} THEN 'image' "
            f"WHEN kr < {c} THEN 'audio' ELSE 'table' END")


def write_corpus(con: duckdb.DuckDBPyConnection, c: Corpus, seed: int,
                 out_dir: str) -> None:
    """Write ``c`` under ``out_dir`` as ``c.n_files`` parquet files."""
    s = int(seed)
    pre = c.id_prefix
    drift = (f"part = {c.drift_partition}" if c.drift_partition is not None
             else "false")
    con.execute(f"""
        CREATE OR REPLACE TEMP TABLE _d AS
        SELECT i,
          (hash(i, {s}, 'def') % 1000)::BIGINT AS dr,
          (hash(i, {s}, 'dup') % 1000)::BIGINT AS ur,
          (hash(i, {s}, 'dng') % 1000)::BIGINT AS gr,
          CASE WHEN hash(i, {s}, 'skw') % 1000 < {c.skew_permille} THEN 0
               ELSE (hash(i, {s}, 'prt') % {N_PARTITIONS})::BIGINT
               END AS part,
          CASE (hash(i, {s}, 'def') % 1000)::BIGINT
               WHEN {EMPTY} THEN 0
               WHEN {DUP_OFF} THEN greatest(2, 1 + hash(i, {s}, 'nsp') % 5)
               ELSE 1 + hash(i, {s}, 'nsp') % 5 END::BIGINT AS n
        FROM range({c.n_docs}) t(i)
    """)
    con.execute(f"""
        CREATE OR REPLACE TEMP TABLE _s AS
        WITH sp AS (
          SELECT i, dr, gr, part, j FROM _d, range(5) r(j) WHERE j < n
        ), k AS (
          SELECT *, (hash(i, j, {s}, 'knd') % 100)::BIGINT AS kr,
                 (hash(i, j, {s}, 'txt') % 312500000)::BIGINT AS th
          FROM sp
        ), k2 AS (
          SELECT *, CASE
            WHEN j = 0 AND dr IN ({NULL_TEXT}, {PII}) THEN 'text'
            WHEN j = 0 AND (dr = {DANGLING} OR gr < {c.dangling_permille})
              THEN 'image'
            WHEN j = 0 AND dr = {MEDIA_MISSING} THEN 'audio'
            WHEN j = 0 AND dr = {BAD_KIND} THEN 'video'
            WHEN {drift} THEN {_kind_sql((20, 70, 90))}
            ELSE {_kind_sql(c.kind_cuts)} END AS kind
          FROM k
        )
        SELECT i, CASE WHEN i % 7 = 3 THEN -j ELSE j END AS sk,
          {{'kind': kind,
           'text': CASE
             WHEN kind <> 'text' THEN NULL
             WHEN j = 0 AND dr = {NULL_TEXT} THEN NULL
             WHEN j = 0 AND dr = {PII} THEN CASE i % 3
               WHEN 0 THEN 'mail u' || i || '@example.org'
               WHEN 1 THEN 'call 555-' || lpad((i % 1000)::VARCHAR, 3, '0')
                           || '-0199'
               ELSE 'host 10.0.' || (i % 256) || '.' || (i // 256 % 256) END
             ELSE 'w' || (th % 50) || ' w' || (th // 50 % 50) || ' w'
                  || (th // 2500 % 50) || ' w' || (th // 125000 % 50)
                  || ' w' || (th // 6250000 % 50) END,
           'media_ref': CASE
             WHEN kind = 'text' THEN NULL
             WHEN j = 0 AND (dr = {DANGLING} OR gr < {c.dangling_permille})
               THEN 'missing_' || i
             WHEN j = 0 AND dr = {MEDIA_MISSING} THEN NULL
             ELSE 'm' || (hash(i, j, {s}, 'ref') % {N_MEDIA})::BIGINT END,
           'offset': (CASE
             WHEN j = 0 AND dr = {NEG_OFF} THEN -1
             WHEN j = 1 AND dr = {DUP_OFF} THEN 0
             WHEN j = 0 AND dr = {NULL_OFF} THEN NULL
             ELSE j END)::INTEGER}} AS span
        FROM k2
    """)
    doc_id = f"""CASE
        WHEN dr = {NULL_ID} THEN NULL
        WHEN ur < {c.hot_dup_permille} THEN 'hot' || (hash(i, {s}, 'hot') % 100)
        WHEN ur < {c.hot_dup_permille + c.dup_permille}
          THEN '{pre}' || (hash(i, {s}, 'cpy') % {c.n_docs})
        WHEN dr = {DUP_PREV} AND i > 0 THEN '{pre}' || (i - 1)
        ELSE '{pre}' || i END"""
    con.execute(f"""
        CREATE OR REPLACE TEMP TABLE _docs AS
        SELECT _d.i, {doc_id} AS doc_id,
          coalesce(g.spans, []::{_SPANS_TYPE}) AS spans,
          'p' || part AS "partition"
        FROM _d LEFT JOIN (
          SELECT i, list(span ORDER BY sk) AS spans FROM _s GROUP BY i
        ) g USING (i)
    """)
    os.makedirs(out_dir, exist_ok=True)
    step = -(-c.n_docs // c.n_files)
    for f in range(c.n_files):
        path = os.path.join(out_dir, f"part-{f:03d}.parquet")
        con.execute(f"""
            COPY (SELECT doc_id, spans, "partition" FROM _docs
                  WHERE i >= {f * step} AND i < {(f + 1) * step} ORDER BY i)
            TO '{path}' (FORMAT PARQUET, COMPRESSION SNAPPY,
                         ROW_GROUP_SIZE 8192)
        """)
    con.execute("DROP TABLE _d; DROP TABLE _s; DROP TABLE _docs")


def write_catalog(con: duckdb.DuckDBPyConnection, seed: int,
                  out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    con.execute(f"""
        COPY (SELECT 'm' || i AS media_ref,
                     ['image', 'audio', 'video', 'table'][
                       (1 + hash(i, {int(seed)}, 'mk') % 4)::BIGINT]
                       AS media_kind,
                     (hash(i, {int(seed)}, 'sz') % 1000000)::BIGINT
                       AS size_bytes
              FROM range({N_MEDIA}) t(i))
        TO '{os.path.join(out_dir, "part-000.parquet")}' (FORMAT PARQUET)
    """)


def write_span_kind_hist(con: duckdb.DuckDBPyConnection, docs: str,
                         out_dir: str) -> None:
    """Store the ``(partition, bin, count)`` span-kind histogram of ``docs``
    in the layout ``run_validation --emit-histograms`` writes, as the drift
    baseline a later ``--baseline-hist`` run reads."""
    os.makedirs(out_dir, exist_ok=True)
    con.execute(f"""
        COPY (SELECT "partition", s.kind AS bin, count(*) AS count FROM (
                SELECT "partition", unnest(spans) AS s
                FROM read_parquet('{_glob(docs)}'))
              GROUP BY ALL ORDER BY ALL)
        TO '{os.path.join(out_dir, "part-000.parquet")}' (FORMAT PARQUET)
    """)


def write_verdicts(con: duckdb.DuckDBPyConnection, verdicts: list,
                   out_dir: str) -> None:
    """Store a verdict matrix (as ``expected_verdicts`` returns it) in the
    parquet shape of a ``run_validation`` verdicts sink, so a later run can
    diff against it with ``--diff-prev``."""
    os.makedirs(out_dir, exist_ok=True)
    con.execute("CREATE OR REPLACE TEMP TABLE _v (\"partition\" VARCHAR, "
                "rule_id VARCHAR, pass BOOLEAN, violation_count BIGINT)")
    con.executemany("INSERT INTO _v VALUES (?, ?, ?, ?)", verdicts)
    con.execute(f"""COPY _v TO '{os.path.join(out_dir, "part-000.parquet")}'
                    (FORMAT PARQUET)""")
    con.execute("DROP TABLE _v")


# ------------------------------------------------------------------ oracle

def expected_verdicts(con: duckdb.DuckDBPyConnection, docs: str,
                      catalog: str, base_docs: str | None = None) -> dict:
    """The verdict matrix ``run_validation.main`` must write for ``docs``:
    ``{"verdicts": [[partition, rule_id, pass, violation_count], ...],
    "violation_rows": n}``. With ``base_docs`` the PSI drift rule against
    that snapshot's span-kind histogram is added, as ``--baseline-hist``
    does."""
    pii = "|".join(f"(?:{p})" for p in _PII_PATTERNS)
    kinds = ", ".join(f"'{k}'" for k in KINDS)
    con.execute(f"""
        CREATE OR REPLACE TEMP VIEW _o AS
        SELECT "partition" AS p, doc_id, spans,
          list_transform(spans, x -> x."offset") AS offs,
          coalesce(list_aggr(list_filter(list_transform(spans, x -> x."text"),
                                         t -> t IS NOT NULL),
                             'string_agg', ' '), '') AS txt
        FROM read_parquet('{_glob(docs)}')
    """)
    bad_offs = ("(len(list_filter(offs, o -> o IS NULL)) > 0 "
                "OR len(list_filter(offs, o -> o < 0)) > 0 "
                "OR len(list_distinct(offs)) < len(offs))")
    row_preds = {
        "not_null:doc_id": "doc_id IS NULL",
        "non_empty:spans": "spans IS NULL OR len(spans) = 0",
        "text_present_on_text_spans":
            "len(list_filter(spans, x -> x.kind = 'text' "
            "AND x.\"text\" IS NULL)) > 0",
        "media_ref_present_on_media_spans":
            "len(list_filter(spans, x -> x.kind <> 'text' "
            "AND x.media_ref IS NULL)) > 0",
        "span_kinds_accepted":
            f"len(list_filter(spans, x -> x.kind IS NULL "
            f"OR x.kind NOT IN ({kinds}))) > 0",
        "offsets_valid_native": bad_offs,
        "no_pii": (f"regexp_matches(txt, '[0-9][.-][0-9]|@') "
                   f"AND regexp_matches(txt, '{pii}')"),
        "span_sequence_valid": f"spans IS NULL OR {bad_offs}",
    }
    sums = ", ".join(
        f"count(*) FILTER (WHERE {pred}) AS \"{rid}\""
        for rid, pred in row_preds.items())
    rows = con.execute(
        f"SELECT p, count(*) AS n, {sums} FROM _o GROUP BY p").fetchall()
    counts: dict[tuple[str, str], int] = {}
    parts = []
    for r in rows:
        parts.append(r[0])
        for rid, v in zip(row_preds, r[2:]):
            counts[(r[0], rid)] = v
    for p, v in con.execute("""
        SELECT p, count(DISTINCT doc_id) FROM _o WHERE doc_id IN (
          SELECT doc_id FROM _o WHERE doc_id IS NOT NULL
          GROUP BY doc_id HAVING count(*) > 1)
        GROUP BY p""").fetchall():
        counts[(p, "unique:doc_id")] = v
    for p, v in con.execute(f"""
        SELECT p, count(*) FROM (
          SELECT DISTINCT p, doc_id FROM (
            SELECT p, doc_id, unnest(list_transform(spans, x -> x.media_ref))
                   AS ref FROM _o)
          WHERE ref IS NOT NULL AND ref NOT IN (
            SELECT media_ref FROM read_parquet('{_glob(catalog)}')))
        GROUP BY p""").fetchall():
        counts[(p, "referential:media_ref")] = v
    rules = list(ROW_RULES + DATASET_RULES)
    if base_docs is not None:
        rules.append(PSI_RULE)
        for p, _psi in _drifted_partitions(con, docs, base_docs):
            counts[(p, PSI_RULE)] = 1
    verdicts = sorted(
        [p, rid, counts.get((p, rid), 0) == 0, counts.get((p, rid), 0)]
        for p in parts for rid in rules)
    con.execute("DROP VIEW _o")
    return {"verdicts": verdicts,
            "violation_rows": sum(v[3] for v in verdicts)}


def _drifted_partitions(con, docs: str, base_docs: str) -> list:
    """Partitions whose span-kind PSI against ``base_docs`` exceeds the
    threshold (the engine's epsilon-smoothed PSI, recomputed here)."""
    hist = """SELECT "partition" AS p, s.kind AS bin, count(*) AS c FROM (
                SELECT "partition", unnest(spans) AS s
                FROM read_parquet('{}')) GROUP BY ALL"""
    return con.execute(f"""
        WITH cur AS ({hist.format(_glob(docs))}),
             base AS ({hist.format(_glob(base_docs))}),
             j AS (SELECT coalesce(cur.p, base.p) AS p,
                          coalesce(cur.c, 0)::DOUBLE AS cc,
                          coalesce(base.c, 0)::DOUBLE AS bc
                   FROM cur FULL OUTER JOIN base
                   ON cur.p = base.p AND cur.bin IS NOT DISTINCT FROM base.bin),
             pq AS (SELECT p,
                      greatest(cc / sum(cc) OVER (PARTITION BY p), {PSI_EPS})
                        AS pp,
                      greatest(bc / sum(bc) OVER (PARTITION BY p), {PSI_EPS})
                        AS qq
                    FROM j)
        SELECT p, sum((pp - qq) * ln(pp / qq)) AS psi FROM pq
        GROUP BY p HAVING sum((pp - qq) * ln(pp / qq)) > {PSI_THRESHOLD}
    """).fetchall()


def check_job(con: duckdb.DuckDBPyConnection, out_dir: str,
              expected: dict) -> str | None:
    """Compare a job's written ``verdicts`` and ``violations`` sinks with
    ``expected``; returns a one-line mismatch description, or None."""
    got = sorted(
        [p, r, bool(ok), int(n)] for p, r, ok, n in con.execute(f"""
            SELECT "partition", rule_id, pass, violation_count
            FROM read_parquet('{_glob(os.path.join(out_dir, "verdicts"))}')
        """).fetchall())
    if got != expected["verdicts"]:
        want = {tuple(v) for v in expected["verdicts"]}
        have = {tuple(v) for v in got}
        return (f"verdicts differ: {len(have - want)} unexpected, "
                f"{len(want - have)} missing, e.g. "
                f"{sorted(have - want)[:2]} vs {sorted(want - have)[:2]}")
    (n_rows,) = con.execute(
        f"SELECT count(*) FROM read_parquet("
        f"'{_glob(os.path.join(out_dir, 'violations'))}')").fetchone()
    if n_rows != expected["violation_rows"]:
        return (f"violation rows {n_rows} != expected "
                f"{expected['violation_rows']}")
    return None


def cached(path: str, build) -> None:
    """Run ``build(tmp_dir)`` unless ``path`` already exists, then publish
    ``tmp_dir`` as ``path`` with one rename, so an interrupted build is never
    mistaken for a finished one."""
    if os.path.isdir(path):
        return
    tmp = f"{path}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    try:
        os.rename(tmp, path)
    except OSError:
        # another run published the same inputs first
        shutil.rmtree(tmp, ignore_errors=True)


def save_json(path: str, obj) -> None:
    with open(path, "w") as fh:
        json.dump(obj, fh)


def load_json(path: str):
    with open(path) as fh:
        return json.load(fh)
