"""Off-clock answer checks against references the engine did not compute.

  - DuckDB runs a SQL twin of every distinct lookup request, and the
    library's own oracle SQL (`SparkEntry.oracleSql`) for declared keys.
  - The generator's planted near-duplicate pairs give a recall floor for
    the banded `dedup_near`, which has no oracle.
"""
import json
import math
import os

import duckdb

FLOAT_TOL = 1.01e-4  # one unit of the 4-decimal rounding the oracles use
NEAR_RECALL_MIN = 0.95
PLANTED_RECALL = {"dedup_near"}


def connect(data_dir, docs_dir=None):
    """DuckDB views named like the fixture tables over one data dir;
    `docs_dir` overrides where documents (and embeddings) come from."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ("documents", "embeddings", "events"):
        d = docs_dir if docs_dir and t != "events" else data_dir
        p = os.path.join(d, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def twin_sql(req):
    """The SQL twin of one lookup request (ProvidenciasApi semantics)."""
    op = req["op"]
    cols = "text, lang, source, n_chars"
    if op == "buscar":
        if "lang" in req:
            return f"SELECT {cols} FROM documents WHERE lang = ?", [req["lang"]]
        if "source" in req:
            return f"SELECT {cols} FROM documents WHERE source = ?", [req["source"]]
        if "n_chars" in req:
            return f"SELECT {cols} FROM documents WHERE n_chars = ?", [req["n_chars"]]
        terms = req["texto"].strip().lower().split()
        return (f"""SELECT {cols} FROM documents WHERE len(list_intersect(
                   string_split(translate(lower(text), 'áéíóúüñ', 'aeiouun'), ' '), ?)) > 0""",
                [terms])
    if op == "similares":
        return ("""SELECT origen, destino, similitud FROM (
                     SELECT a.vec_id AS origen, b.vec_id AS destino,
                       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                    CAST(b.embedding AS DOUBLE[])) * 100, 4)
                         AS similitud
                     FROM embeddings a, embeddings b WHERE a.vec_id = ? AND b.vec_id <> ?)
                   WHERE similitud BETWEEN ? AND ? ORDER BY destino""",
                [req["doc"], req["doc"], req["lo"], req["hi"]])
    raise ValueError(op)


def _cell(v):
    if isinstance(v, float):
        return v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return [_cell(x) for x in v]
    if isinstance(v, dict):
        return {k: _cell(x) for k, x in v.items()}
    if v is not None and type(v).__name__ == "Decimal":
        return float(v)
    return v


def _key(v):
    """Sort key that tolerates float noise below the oracle rounding."""
    if isinstance(v, float):
        return ("f", round(v, 3))
    if isinstance(v, list):
        return ("l", tuple(_key(x) for x in v))
    if isinstance(v, dict):
        return ("d", tuple(sorted((k, _key(x)) for k, x in v.items())))
    return (type(v).__name__, v)


def _same(a, b):
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        if isinstance(a, float) or isinstance(b, float):
            if math.isnan(a) and math.isnan(b):
                return True
            return abs(a - b) <= FLOAT_TOL + 1e-9 * max(abs(a), abs(b))
        return a == b
    if isinstance(a, str) and isinstance(b, str) and a != b:
        # timestamps: Spark writes ISO with 'Z', DuckDB without a zone
        return a.rstrip("Z").replace("T", " ") == b.rstrip("Z").replace("T", " ")
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_same(a[k], b[k]) for k in a)
    return a == b


def same_rows(cols_a, rows_a, cols_b, rows_b):
    """Multiset equality of two results, columns matched by name."""
    if sorted(cols_a) != sorted(cols_b):
        return f"columns {sorted(cols_a)} vs {sorted(cols_b)}"
    if len(rows_a) != len(rows_b):
        return f"{len(rows_a)} rows vs {len(rows_b)}"
    order = sorted(cols_a)
    ia = [cols_a.index(c) for c in order]
    ib = [cols_b.index(c) for c in order]
    ra = sorted(([_cell(r[i]) for i in ia] for r in rows_a), key=_key)
    rb = sorted(([_cell(r[i]) for i in ib] for r in rows_b), key=_key)
    for x, y in zip(ra, rb):
        if not _same(x, y):
            return f"row {x!r:.200} vs {y!r:.200}"
    return None


def query(con, sql, params=()):
    cur = con.execute(sql, list(params))
    return [d[0] for d in cur.description], cur.fetchall()


def check_lookup(con, req, answer):
    """None if the collected answer equals the twin's, else a reason."""
    cols, rows = query(con, *twin_sql(req))
    return same_rows(answer["cols"], answer["rows"], cols, rows)


def check_key_rows(con, oracle_sql, answer):
    cols, rows = query(con, oracle_sql)
    return same_rows(answer["cols"], answer["rows"], cols, rows)


def check_key_parquet(con, key, path, oracle_sql, planted):
    """Check one key's answer written as parquet."""
    got_cols, got = query(con, f"SELECT * FROM read_parquet('{path}/*.parquet')")
    if key in PLANTED_RECALL:
        ia, ib, ij = (got_cols.index(c) for c in ("doc_a", "doc_b", "jaccard"))
        truth = {(a, b): j for a, b, j in planted}
        found = {(r[ia], r[ib]): r[ij] for r in got}
        wrong = [p for p in found if p not in truth or not _same(found[p], truth[p])]
        if wrong:
            return f"{len(wrong)} pairs not planted, e.g. {wrong[0]}"
        hit = sum(1 for p in truth if p in found)
        if truth and hit / len(truth) < NEAR_RECALL_MIN:
            return f"recall {hit / len(truth):.3f} < {NEAR_RECALL_MIN}"
        return None
    if oracle_sql is None:
        return "no oracle and no planted truth"
    cols, rows = query(con, oracle_sql)
    return same_rows(got_cols, got, cols, rows)


def check_request(con, req, answer, oracles, planted):
    """Check one answer (collected rows or a parquet path) of any request."""
    if "err" in answer:
        return answer["err"]
    if req["op"] == "key":
        k = req["key"]
        return check_key_parquet(con, k, answer["path"], oracles.get(k), planted)
    if req["op"] in ("distinct_sorted", "graph_node_ids"):
        return check_key_rows(con, oracles[req["op"]], answer)
    return check_lookup(con, req, answer)


def load_planted(d):
    p = os.path.join(d, "planted_pairs.json")
    return [tuple(x) for x in json.load(open(p))] if os.path.exists(p) else []
