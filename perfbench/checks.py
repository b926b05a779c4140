"""Output checks of the benchmark, run in DuckDB outside the timed region.

Each check returns a list of problems; an empty list means the outputs
are right. The JVM harness leaves in its result the catalog directory of
every published asset and, per workload, the material to check.
"""

import hashlib
import json
import os
import zipfile

import duckdb

RAW_COLUMNS = ("{'align_length': 'INTEGER', 'positives_percent': 'FLOAT', "
               "'text1_id': 'VARCHAR', 'text1_text': 'VARCHAR', "
               "'text1_text_end': 'INTEGER', 'text1_text_start': 'INTEGER', "
               "'text2_id': 'VARCHAR', 'text2_text': 'VARCHAR', "
               "'text2_text_end': 'INTEGER', 'text2_text_start': 'INTEGER'}")
META_COLUMNS = "{'text_name': 'VARCHAR', 'publication_year': 'INTEGER', 'text_length': 'INTEGER'}"


def _register_catalog(con, catalog):
    for name, path in catalog.items():
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s/*.parquet')"
                    % (name, path))


def _same(con, actual, expected):
    """Rows of query `actual` and `expected` are equal as multisets."""
    q = ("SELECT (SELECT count(*) FROM ((%s) EXCEPT ALL (%s))) + "
         "(SELECT count(*) FROM ((%s) EXCEPT ALL (%s)))") % (actual, expected, expected, actual)
    return con.execute(q).fetchone()[0] == 0


def _load_inputs(con, inputs):
    """Register the generated hits and metadata as tables `raw` and `meta`."""
    raw_dir = os.path.join(inputs, "check-raw")
    os.makedirs(raw_dir, exist_ok=True)
    with zipfile.ZipFile(os.path.join(inputs, "main", "hits.zip")) as zf:
        zf.extractall(raw_dir)
    con.execute("CREATE TABLE raw AS SELECT * FROM read_json('%s/*.jsonl', columns=%s, "
                "format='newline_delimited')" % (raw_dir, RAW_COLUMNS))
    con.execute("CREATE TABLE meta AS SELECT * FROM read_json('%s', columns=%s, "
                "format='newline_delimited')"
                % (os.path.join(inputs, "main", "metadata.jsonl"), META_COLUMNS))


# The engine's id rules, restated in SQL: ids are dense from 1 in the
# given order; Spark sorts NULLS FIRST, so every nullable key says so.
EXPECTED_IDS = """
  SELECT row_number() OVER (ORDER BY manifestation_id, structure_name NULLS FIRST, text_name)
           AS trs_id, text_name, manifestation_id, structure_name
  FROM (SELECT text_name, split_part(text_name, '.', 1) AS manifestation_id,
               CASE WHEN strpos(text_name, '.') > 0
                    THEN regexp_extract(text_name, '[^.]*$') END AS structure_name
        FROM (SELECT text1_id AS text_name FROM raw UNION SELECT text2_id FROM raw))"""
EXPECTED_TEXTREUSES = """
  SELECT row_number() OVER (ORDER BY trs1_id, trs2_id, trs1_start, trs1_end, trs2_start, trs2_end)
           AS textreuse_id, trs1_id, trs1_start, trs1_end, trs2_id, trs2_start, trs2_end,
         align_length, round(positives_percent::DOUBLE, 2) AS positives_percent
  FROM (SELECT a.trs_id AS trs1_id, text1_text_start AS trs1_start, text1_text_end AS trs1_end,
               b.trs_id AS trs2_id, text2_text_start AS trs2_start, text2_text_end AS trs2_end,
               align_length, positives_percent
        FROM raw JOIN exp_ids a ON raw.text1_id = a.text_name
                 JOIN exp_ids b ON raw.text2_id = b.text_name)"""
EXPECTED_PIECES = """
  SELECT row_number() OVER (ORDER BY trs_id, trs_start, trs_end) AS piece_id,
         trs_id, trs_start, trs_end
  FROM (SELECT trs1_id AS trs_id, trs1_start AS trs_start, trs1_end AS trs_end FROM exp_tr
        UNION SELECT trs2_id, trs2_start, trs2_end FROM exp_tr)"""
# reception edges per cluster: earliest-dated pieces times the others
EXPECTED_RECEPTION_EDGES = """
  WITH dated AS (
    SELECT c.piece_id, c.cluster_id, m.publication_year AS d
    FROM clustered_defrag_pieces c JOIN defrag_pieces p USING (piece_id)
      JOIN textreuse_ids i USING (trs_id) JOIN meta m USING (text_name)),
  earliest AS (
    SELECT piece_id, cluster_id FROM dated
    WHERE d = (SELECT min(d) FROM dated x WHERE x.cluster_id = dated.cluster_id)),
  per AS (
    SELECT cluster_id, count(*) AS n_all, (SELECT count(*) FROM earliest e
                                           WHERE e.cluster_id = dated.cluster_id) AS n_src
    FROM dated GROUP BY cluster_id)
  SELECT coalesce(sum(n_src * (n_all - n_src)), 0) FROM per"""


def digests(con, catalog):
    """Order-independent digest of every published asset:
    [rows, xor of row hashes, sum of row hashes]."""
    out = {}
    for name, path in sorted(catalog.items()):
        n, x, s = con.execute("SELECT count(*), bit_xor(hash(t)), sum(hash(t)::HUGEINT) "
                              "FROM read_parquet('%s/*.parquet') t" % path).fetchone()
        out[name] = [n, str(x), str(s)]
    return out


def check_etl(res, inputs, build_dir, stamp):
    problems = []
    chk = res["check"]
    con = duckdb.connect()
    per_build = [digests(con, c) for c in chk["catalogs"]]
    differ = sorted(a for a in per_build[0] if any(d[a] != per_build[0][a] for d in per_build))
    if differ:
        problems.append("assets differ between builds of one input: " + ", ".join(differ))
    _register_catalog(con, chk["catalogs"][-1])
    _load_inputs(con, inputs)
    con.execute("CREATE TABLE exp_ids AS " + EXPECTED_IDS)
    con.execute("CREATE TABLE exp_tr AS " + EXPECTED_TEXTREUSES)
    if not _same(con, "SELECT trs_id, text_name, manifestation_id, structure_name "
                      "FROM textreuse_ids", "SELECT * FROM exp_ids"):
        problems.append("textreuse_ids differ from the DuckDB recomputation")
    if not _same(con, "SELECT textreuse_id, trs1_id, trs1_start, trs1_end, trs2_id, trs2_start, "
                      "trs2_end, align_length, round(positives_percent::DOUBLE, 2) "
                      "FROM textreuses", "SELECT * FROM exp_tr"):
        problems.append("textreuses differ from the DuckDB recomputation")
    if not _same(con, "SELECT piece_id, trs_id, trs_start, trs_end FROM orig_pieces",
                 EXPECTED_PIECES):
        problems.append("orig_pieces differ from the DuckDB recomputation")
    edges = con.execute("SELECT count(*) FROM reception_edges").fetchone()[0]
    if edges != con.execute(EXPECTED_RECEPTION_EDGES).fetchone()[0]:
        problems.append("reception edge count differs from the DuckDB recomputation")
    n_defrag, n_orig = con.execute("SELECT (SELECT count(*) FROM defrag_pieces), "
                                   "(SELECT count(*) FROM orig_pieces)").fetchone()
    if n_defrag > n_orig:
        problems.append("more defrag pieces than orig pieces")
    bad = con.execute("""
        SELECT (SELECT count(*) FROM (SELECT piece_id FROM clustered_defrag_pieces
                                      GROUP BY piece_id HAVING count(*) > 1))
             + (SELECT count(*) FROM (SELECT piece_id FROM defrag_pieces
                                      EXCEPT SELECT piece_id FROM clustered_defrag_pieces))
             + (SELECT count(*) FROM (SELECT piece_id FROM clustered_defrag_pieces
                                      EXCEPT SELECT piece_id FROM defrag_pieces))""").fetchone()[0]
    if bad:
        problems.append("%d defrag pieces are not in exactly one cluster" % bad)
    for table, rows in chk["jdbc_rows"].items():
        if int(rows) != con.execute("SELECT count(*) FROM %s" % table).fetchone()[0]:
            problems.append("Derby table %s does not match its catalog asset" % table)
    problems += _check_repeatable(build_dir, stamp, _sha256(os.path.join(inputs, "main",
                                                                       "hits.zip")),
                                  per_build[0])
    return problems


def _sha256(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:16]


def _check_repeatable(build_dir, stamp, key, found):
    """Digests of one input must be identical across runs of one build."""
    d = os.path.join(build_dir, "digests", stamp[:16])
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, key + ".json")
    if os.path.exists(path):
        with open(path) as f:
            if json.load(f) != found:
                return ["asset digests differ from an earlier run of the same input"]
        return []
    with open(path, "w") as f:
        json.dump(found, f, sort_keys=True)
    return []


LOOKUP_SQL = {
    "reception_of": "SELECT src_trs_id, src_piece_id, dst_piece_id, cluster_id "
                    "FROM reception_edges WHERE dst_trs_id = $k",
    "coverage_of": "SELECT trs1_id, trs2_id, reuse_t1_t2, reuse_t2_t1 FROM coverages "
                   "WHERE trs1_id = $k OR trs2_id = $k",
    "cluster_members": "SELECT piece_id FROM clustered_defrag_pieces WHERE cluster_id IN "
                       "(SELECT cluster_id FROM clustered_defrag_pieces WHERE piece_id = $k)",
    # islands over the distinct destination intervals received from source
    # $k: sorted by (start, end), an interval starting at most one past the
    # running maximum end continues the island; length = max end - min start
    "inception_of": """
        WITH iv AS (SELECT DISTINCT dst_trs_id, dst_trs_start AS s, dst_trs_end AS e
                    FROM reception_edges_denorm WHERE src_trs_id = $k),
        m AS (SELECT *, max(e) OVER (PARTITION BY dst_trs_id ORDER BY s, e
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev
              FROM iv),
        g AS (SELECT *, sum(CASE WHEN prev IS NULL OR prev + 1 < s THEN 1 ELSE 0 END)
                          OVER (PARTITION BY dst_trs_id ORDER BY s, e) AS island FROM m),
        isl AS (SELECT dst_trs_id, island, max(e) - min(s) AS len FROM g
                GROUP BY dst_trs_id, island)
        SELECT dst_trs_id, count(*) AS n_islands, sum(len) AS covered_len
        FROM isl GROUP BY dst_trs_id""",
}


def check_lookups(res):
    problems = []
    con = duckdb.connect()
    _register_catalog(con, res["check"]["catalog"])
    samples = res["check"]["lookup_samples"]
    for kind, answers in samples.items():
        if not answers:
            problems.append("no %s answer was sampled" % kind)
        for ans in answers:
            rows = con.execute(LOOKUP_SQL[kind], {"k": ans["key"]}).fetchall()
            if sorted(list(map(int, r)) for r in rows) != sorted(ans["rows"]):
                problems.append("%s(%s) differs from DuckDB" % (kind, ans["key"]))
    return problems


def check(workload, res, inputs, build_dir, stamp):
    if workload == "etl_build":
        return check_etl(res, inputs, build_dir, stamp)
    return check_lookups(res)
