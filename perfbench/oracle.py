"""Output checks for the benchmark, independent of the program under test.

- Query results are compared with DuckDB over the warehouse's own parquet
  files, one oracle query per query class.
- Gate outputs are compared with the gate's DuckDB oracle from
  `SparkEntry.oracleSql`, with the row-count, column and value-hash rule
  of the repository's correctness checker.
- Table digests of each load are compared with those of the same load
  sequence run through the in-memory warehouse path, and the SCD2 and
  primary-key invariants must hold.
"""
import glob
import hashlib
import math
import os

import duckdb


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def result_key(cols, rows):
    return (tuple(sorted(cols)), len(rows), table_hash(cols, rows))


def _json_value(v):
    # the harness writes non-finite doubles as strings
    if v in ("NaN", "Infinity", "-Infinity"):
        return float(v.replace("Infinity", "inf"))
    return v


class WarehouseOracle:
    """DuckDB views over a parquet warehouse written by the pipeline."""

    def __init__(self, wh_dir):
        self.con = duckdb.connect()
        for d in sorted(os.listdir(wh_dir)):
            p = os.path.join(wh_dir, d)
            if d.startswith(".") or not os.path.isdir(p):
                continue
            if glob.glob(os.path.join(p, "valid_to_date=*")):
                src = (f"read_parquet('{p}/*/*.parquet', hive_partitioning = true)")
                self.con.execute(f"CREATE VIEW {d} AS SELECT * EXCLUDE (valid_to_date) FROM {src}")
            else:
                self.con.execute(f"CREATE VIEW {d} AS SELECT * FROM read_parquet('{p}/*.parquet')")
        self.cache = {}

    def sql(self, cls, params):
        if cls == "pit":
            t = f"TIMESTAMP '{params['ts']}'"
            return f"""
              SELECT g.genre_nm, count(*) AS n, count(DISTINCT s.movie_id) AS movies,
                     sum(CAST(floor(CAST(s.rating AS DOUBLE) * 10 + 0.5) AS BIGINT)) AS rating_x10
              FROM movie_info_sat s
              JOIN movie_genre_link l ON s.movie_id = l.movie_id
              JOIN genre_hub g ON g.genre_id = l.genre_id
              WHERE s.valid_from <= {t} AND {t} < s.valid_to
                AND l.valid_from <= {t} AND {t} < l.valid_to
              GROUP BY g.genre_nm"""
        if cls == "history":
            return f"""
              SELECT title_item_id, scr_nm, rating,
                     CAST(valid_from AS VARCHAR) AS valid_from,
                     CAST(valid_to AS VARCHAR) AS valid_to
              FROM movie_info_sat WHERE movie_id = '{params['movie_id']}'"""
        if cls == "mart":
            mart = params["mart"]
            aggs = ["count(*) AS n"]
            for name, typ, *_ in self.con.execute(f"DESCRIBE {mart}").fetchall():
                if typ == "VARCHAR":
                    aggs.append(f"sum(length(coalesce({name}, ''))) AS {name}")
                elif typ in ("DOUBLE", "FLOAT"):
                    aggs.append(f"sum(CAST(floor({name} * 10000 + 0.5) AS BIGINT)) AS {name}")
                else:
                    aggs.append(f"sum(CAST({name} AS BIGINT)) AS {name}")
            return f"SELECT {', '.join(aggs)} FROM {mart}"
        if cls == "mart_asof":
            t = f"TIMESTAMP '{params['ts']}'"
            return f"""
              WITH sat AS (SELECT * FROM movie_info_sat
                           WHERE valid_from <= {t} AND {t} < valid_to),
              lnk AS (SELECT movie_id, genre_id FROM movie_genre_link
                      WHERE valid_from <= {t} AND {t} < valid_to),
              per_movie AS (SELECT movie_id,
                                   avg(CAST(rating AS DOUBLE)) AS rating,
                                   avg(CAST(budget AS BIGINT)) AS budget,
                                   avg(CAST(gross_worldwide AS BIGINT)) AS gross
                            FROM sat GROUP BY movie_id),
              t3 AS (SELECT p.*, h.movie_nm, h.movie_duration, g.genre_id, g.genre_nm,
                            concat(h.movie_nm, ', ', CAST(h.movie_duration AS VARCHAR),
                                   ' min') AS label
                     FROM per_movie p
                     JOIN movie_hub h USING (movie_id)
                     JOIN lnk USING (movie_id)
                     JOIN genre_hub g USING (genre_id)),
              ranked AS (SELECT *,
                row_number() OVER (PARTITION BY genre_id ORDER BY budget DESC, movie_id) AS rb,
                row_number() OVER (PARTITION BY genre_id ORDER BY gross DESC, movie_id) AS rg,
                row_number() OVER (PARTITION BY genre_id ORDER BY rating DESC, movie_id) AS rr
                FROM t3)
              SELECT genre_id, genre_nm AS genre,
                     max(CASE WHEN rb = 1 THEN label END) AS max_budget_movie,
                     max(CASE WHEN rg = 1 THEN label END) AS max_gross_movie,
                     max(CASE WHEN rr = 1 THEN label END) AS best_rated_movie,
                     round(avg(rating), 4) AS average_rating,
                     count(movie_id) AS genre_movie_quant
              FROM ranked GROUP BY genre_id, genre_nm"""
        raise ValueError(f"unknown query class {cls}")

    def expected(self, cls, params):
        k = (cls, tuple(sorted(params.items())))
        if k not in self.cache:
            rel = self.con.execute(self.sql(cls, params))
            cols = [d[0] for d in rel.description]
            self.cache[k] = result_key(cols, rel.fetchall())
        return self.cache[k]

    def check(self, op):
        """None if the op's rows match the oracle, else a reason."""
        rows = [[_json_value(v) for v in r] for r in op["rows"]]
        got = result_key(op["columns"], rows)
        want = self.expected(op["class"], op["params"])
        if got == want:
            return None
        return (f"result differs from oracle: cols {got[0]} vs {want[0]}, "
                f"rows {got[1]} vs {want[1]}")


class GateOracle:
    """The gates' DuckDB oracles over the generated catalog tables."""

    def __init__(self, sf_dir, oracle_sql):
        self.con = duckdb.connect()
        for f in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
            t = os.path.basename(f)[:-len(".parquet")]
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
        self.oracle_sql = oracle_sql
        self.cache = {}

    def expected(self, gate):
        if gate not in self.cache:
            rel = self.con.execute(self.oracle_sql[gate])
            cols = [d[0] for d in rel.description]
            self.cache[gate] = result_key(cols, rel.fetchall())
        return self.cache[gate]

    def check(self, gate, out_dir):
        rel = self.con.execute(f"SELECT * FROM read_parquet('{out_dir}/*.parquet')")
        got = result_key([d[0] for d in rel.description], rel.fetchall())
        want = self.expected(gate)
        if got == want:
            return None
        return (f"output differs from oracle: cols {got[0]} vs {want[0]}, "
                f"rows {got[1]} vs {want[1]}")


INVARIANTS = ("open_dups", "bad_intervals", "overlaps", "pk_dups")


def check_load(op, reference):
    """Reasons a load's tables are wrong: digest mismatches against the
    in-memory reference and broken SCD2 / primary-key invariants."""
    bad = []
    for table, ref in reference.items():
        got = op["digests"].get(table)
        if got is None:
            bad.append(f"{table}: missing")
            continue
        if got["digest"] != ref["digest"]:
            bad.append(f"{table}: digest {got['digest']} != reference {ref['digest']}")
        for k in INVARIANTS:
            if got[k]:
                bad.append(f"{table}: {got[k]} {k}")
    return bad
