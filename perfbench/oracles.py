"""Independent expected outputs, recomputed with DuckDB from the same
generated parquet the program reads. Nothing here imports the package's
validation code."""

from __future__ import annotations

import math

import duckdb


def _scan(path: str) -> str:
    return f"read_parquet('{path}/*.parquet')"


def _typed_tables(docs_dir: str, schema: dict):
    """A DuckDB connection holding ``d`` (one row per document, ``rid`` its
    row number) and ``v`` (one row per violation: rid, error_type) for
    ``datagen.documents_json_schema``, keyword by keyword: doc_id pattern,
    spans minItems, and per span the kind enum, text min/maxLength,
    media_ref pattern and offset minimum."""
    props = schema["properties"]
    span = props["spans"]["items"]["properties"]
    kinds = ", ".join(f"'{k}'" for k in span["kind"]["enum"])
    lo, hi = span["text"]["minLength"], span["text"]["maxLength"]
    id_re, ref_re = props["doc_id"]["pattern"], span["media_ref"]["pattern"]
    con = duckdb.connect()
    con.execute(f"""
        CREATE TEMP TABLE d AS
        SELECT row_number() OVER () AS rid, doc_id, spans FROM {_scan(docs_dir)}""")
    con.execute("CREATE TEMP TABLE s AS SELECT rid, unnest(spans) AS sp FROM d")
    nulls = con.execute(
        "SELECT count(*) FROM s WHERE sp.kind IS NULL OR sp.offset IS NULL").fetchone()[0]
    if nulls:  # required/type semantics of NULLs are not modelled here
        raise ValueError(f"{nulls} spans with a NULL required field")
    con.execute(f"""
        CREATE TEMP TABLE v AS
        SELECT rid, 'pattern_failed' AS error_type FROM d
         WHERE NOT regexp_matches(doc_id, '{id_re}')
        UNION ALL SELECT rid, 'min_items_failed' FROM d
         WHERE len(spans) < {props["spans"]["minItems"]}
        UNION ALL SELECT rid, 'invalid_type' FROM s WHERE sp.kind NOT IN ({kinds})
        UNION ALL SELECT rid, 'min_length_failed' FROM s WHERE length(sp.text) < {lo}
        UNION ALL SELECT rid, 'max_length_failed' FROM s WHERE length(sp.text) > {hi}
        UNION ALL SELECT rid, 'pattern_failed' FROM s
         WHERE NOT regexp_matches(sp.media_ref, '{ref_re}')
        UNION ALL SELECT rid, 'min_failed' FROM s
         WHERE sp.offset < {span["offset"]["minimum"]}""")
    return con


def typed_violations(docs_dir: str, schema: dict) -> dict:
    """Document count, invalid-document count, and violations in total and
    per error_type."""
    con = _typed_tables(docs_dir, schema)
    by_type = dict(con.execute("SELECT error_type, count(*) FROM v GROUP BY 1").fetchall())
    return {"docs": con.execute("SELECT count(*) FROM d").fetchone()[0],
            "invalid_docs": con.execute("SELECT count(DISTINCT rid) FROM v").fetchone()[0],
            "violations": sum(by_type.values()), "by_type": by_type}


def deep_subset_ids(docs_dir: str, schema: dict, size: int) -> list:
    """``size`` doc ids, half of invalid documents and half of valid ones,
    taken in id order among ids that occur once (so a per-document verdict
    is well defined)."""
    con = _typed_tables(docs_dir, schema)
    return [r[0] for r in con.execute(f"""
        WITH u AS (SELECT doc_id, any_value(rid) AS rid FROM d
                    GROUP BY doc_id HAVING count(*) = 1),
             f AS (SELECT doc_id, rid IN (SELECT rid FROM v) AS bad FROM u)
        (SELECT doc_id FROM f WHERE bad ORDER BY doc_id LIMIT {size // 2})
        UNION ALL
        (SELECT doc_id FROM f WHERE NOT bad ORDER BY doc_id LIMIT {size - size // 2})
        """).fetchall()]


def corpus_checks(docs_dir: str, media_dir: str, ref_dir: str) -> dict:
    """Expected results of the four corpus checks."""
    con = duckdb.connect()
    rows, distinct = con.execute(
        f"SELECT count(*), count(DISTINCT doc_id) FROM {_scan(docs_dir)}").fetchone()
    keys, occ = con.execute(f"""
        WITH r AS (SELECT unnest(spans).media_ref AS media_ref FROM {_scan(docs_dir)})
        SELECT count(DISTINCT media_ref), count(*) FROM r
         WHERE media_ref IS NOT NULL
           AND media_ref NOT IN (SELECT media_ref FROM {_scan(media_dir)})""").fetchone()
    m_rows, m_nulls, m_min, m_max = con.execute(f"""
        SELECT count(*), count(*) - count(bytes), min(bytes), max(bytes)
          FROM {_scan(media_dir)}""").fetchone()
    n_ref = con.execute(f"SELECT count(*) FROM {_scan(ref_dir)}").fetchone()[0]
    return {
        "uniqueness": {"rows": rows, "distinct_keys": distinct,
                       "duplicate_rows": rows - distinct},
        "dangling": {"keys": keys, "occurrences": occ},
        "stats_bytes": {"count": m_rows, "nulls": m_nulls,
                        "min": str(m_min), "max": str(m_max)},
        "drift": {"n_reference": n_ref, "n_current": rows},
    }


# --- pipeline operators: the canonical row form of tests/test_entry_oracle.py


def canon(value) -> str:
    if value is None:
        return "∅"
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, float):
        return "nan" if math.isnan(value) else f"{value:.9g}"
    return str(value)


def canon_rows(names, rows) -> list:
    """[sorted column names, sorted rows with columns in name order]."""
    order = sorted(range(len(names)), key=lambda i: names[i])
    return [sorted(names), sorted([canon(r[i]) for i in order] for r in rows)]


def pipeline_expected(tables_dir: str, sqls: dict) -> dict:
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS "
                    f"SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')")
    out = {}
    for name, sql in sqls.items():
        res = con.execute(sql)
        out[name] = canon_rows([d[0] for d in res.description], res.fetchall())
    return out
