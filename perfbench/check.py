"""Result check: each query's full Spark result against DuckDB running the
query's oracle SQL over the same parquet files.

Both sides are reduced inside DuckDB to the same digest, as strict as
`tools/compare_oracle.py`: columns by name, rows as a bag, exact text
values, and the int / float kind of every column kept apart. A value's
text is DuckDB's cast to VARCHAR (floats through DOUBLE, whose text is
the shortest round-trip form, so -0.0 and 0.0 differ). A row is its
length-prefixed column texts in column-name order; the bag is the row
count plus the sum of the rows' hashes.

The oracle side is cached under `.cache/oracle/`, keyed by the SQL text,
the identity of the input tables and the DuckDB version (the digest uses
DuckDB's hash), and nothing else.
"""
import hashlib
import json
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

INT_TYPES = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT",
             "USMALLINT", "UINTEGER", "UBIGINT"}
# pandas reads HUGEINT and DECIMAL as float64, and so does compare_oracle.py
FLOAT_TYPES = {"FLOAT", "DOUBLE", "HUGEINT", "UHUGEINT"}


def kind(duck_type):
    t = duck_type.upper()
    if t in INT_TYPES:
        return "int"
    if t in FLOAT_TYPES or t.startswith("DECIMAL"):
        return "float"
    if t.startswith("TIMESTAMP"):
        return "timestamp"
    if t == "BOOLEAN":
        return "bool"
    return "other"


def _text(name, k):
    q = '"' + name.replace('"', '""') + '"'
    if k == "float":
        return f"CAST(CAST({q} AS DOUBLE) AS VARCHAR)"
    if k == "timestamp":
        return f"CAST(CAST({q} AS TIMESTAMP) AS VARCHAR)"
    return f"CAST({q} AS VARCHAR)"


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def digest(con, relation):
    """Digest of `relation` (a parenthesized query or a table function)."""
    cols = con.execute(f"DESCRIBE SELECT * FROM {relation}").fetchall()
    cols = sorted((c[0], kind(c[1])) for c in cols)
    texts = [f"{_text(n, k)} AS t{i}" for i, (n, k) in enumerate(cols)]
    parts = [f"coalesce(length(t{i})::VARCHAR || ':' || t{i}, '~')"
             for i in range(len(cols))]
    row = " || '|' || ".join(parts) if parts else "''"
    per_col = [f"sum(hash(coalesce(t{i}, '~')))::VARCHAR"
               for i in range(len(cols))]
    sql = (f"WITH r AS (SELECT {', '.join(texts) or '1 AS t'} FROM {relation}) "
           f"SELECT count(*), coalesce(sum(hash({row})), 0)::VARCHAR"
           + "".join(", " + p for p in per_col) + " FROM r")
    res = con.execute(sql).fetchone()
    return {"columns": [n for n, _ in cols], "kinds": [k for _, k in cols],
            "rows": int(res[0]), "digest": res[1],
            "column_digests": list(res[2:])}


def result_digest(con, result_dir):
    files = os.path.join(result_dir, "*.parquet")
    return digest(con, f"read_parquet('{files}')")


def compare(oracle, spark):
    """None when the two digests match, else the first difference."""
    if oracle["columns"] != spark["columns"]:
        return f"columns oracle={oracle['columns']} spark={spark['columns']}"
    for c, ko, ks in zip(oracle["columns"], oracle["kinds"], spark["kinds"]):
        if ko != ks:
            return f"column {c}: kind oracle={ko} spark={ks}"
    if oracle["rows"] != spark["rows"]:
        return f"rows oracle={oracle['rows']} spark={spark['rows']}"
    if oracle["digest"] != spark["digest"]:
        bad = [c for c, a, b in zip(oracle["columns"], oracle["column_digests"],
                                    spark["column_digests"]) if a != b]
        return f"values differ in columns {bad or '(row pairing)'}"
    return None


def file_sha256(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def input_ids(data_dir):
    """Identity of each input table. A permuted copy names the file it was
    made from: a row order cannot change a SQL result bag."""
    sidecar = os.path.join(data_dir, "source.json")
    if os.path.exists(sidecar):
        with open(sidecar) as f:
            return json.load(f)
    return {t: file_sha256(os.path.join(data_dir, f"{t}.parquet")) for t in TABLES}


class OracleCache:
    def __init__(self, cache_dir, data_dir):
        self.dir = cache_dir
        self.ids = input_ids(data_dir)
        self.data_dir = data_dir
        self._con = None
        os.makedirs(cache_dir, exist_ok=True)

    def con(self):
        if self._con is None:
            self._con = connect(self.data_dir)
        return self._con

    def key(self, sql):
        blob = json.dumps({"duckdb": duckdb.__version__, "sql": sql,
                           "inputs": self.ids}, sort_keys=True)
        return hashlib.sha256(blob.encode()).hexdigest()

    def get(self, sql):
        path = os.path.join(self.dir, self.key(sql) + ".json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        d = digest(self.con(), f"({sql})")
        tmp = path + f".tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(d, f)
        os.replace(tmp, path)
        return d
