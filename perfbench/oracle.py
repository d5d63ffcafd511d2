"""Independent R1-R4 reference computation in DuckDB.

The same recursive-CTE pattern as ``_FIXTURE_A_SQL`` in ``__spark_entry__``
(subclass closure by ``WITH RECURSIVE ... UNION``, star = closure plus
reflexive plus owl:Thing rows, R3 as one DISTINCT join chain), driven from
Python: R4 feedback repeats the closure and R3 until no new subclass fact
appears, then the bottom rules and the output gates of
``RGConfig(output_subclasses=True, reflexive_subclasses=False)`` run.

Nothing here reads the engine's output except ``edge_digest``, which
reduces an edge parquet to the same (count, digest) pair so the two sides
can be compared.
"""

from __future__ import annotations

import duckdb
from gen import (
    AX_DECL_CLASS,
    AX_DECL_PROP,
    AX_EQUIV_SOME,
    AX_SOME,
    AX_SUBCLASS,
    AX_SUBPROP,
    BOT,
)

TOP, SUBCLASSOF = 1, 3

# order-insensitive digest of a set of (s, p, o) rows: row count plus the
# exact (HUGEINT) sum of a 64-bit hash per row; duplicates change both
_DIGEST = "SELECT count(*), coalesce(sum(hash(s::INT, p::INT, o::INT)::HUGEINT), 0) FROM {}"


def _axioms(con: duckdb.DuckDBPyConnection, files: list[str], min_ts_us: int | None) -> None:
    """Decode staged SEQ_TS parquet files straight from their token arrays,
    dropping rows stamped before `min_ts_us` (the planted late rows)."""
    keep = "" if min_ts_us is None else f"WHERE epoch_us(ts) >= {int(min_ts_us)}"
    flist = ", ".join(f"'{f}'" for f in files)
    con.execute(f"""
        CREATE OR REPLACE TABLE ax AS
          SELECT tokens[1] AS a, tokens[2] AS s, tokens[3] AS p, tokens[4] AS o
          FROM read_parquet([{flist}]) {keep}
    """)
    con.execute(f"""
        CREATE OR REPLACE TABLE sc AS
          SELECT DISTINCT s AS sub, p AS sup FROM ax WHERE a = {AX_SUBCLASS};
        CREATE OR REPLACE TABLE defsome AS
          SELECT DISTINCT s AS f, p, o FROM ax WHERE a = {AX_EQUIV_SOME};
        CREATE OR REPLACE TABLE somet AS
          SELECT s, p, o AS f FROM ax WHERE a = {AX_SOME}
          UNION SELECT f, p, o FROM defsome;
        CREATE OR REPLACE TABLE sp AS
          SELECT DISTINCT s AS sub, p AS sup FROM ax WHERE a = {AX_SUBPROP};
        CREATE OR REPLACE TABLE classes AS
          SELECT s AS c FROM ax WHERE a IN ({AX_DECL_CLASS}, {AX_SUBCLASS}, {AX_SOME}, {AX_EQUIV_SOME})
          UNION SELECT p FROM ax WHERE a = {AX_SUBCLASS}
          UNION SELECT o FROM ax WHERE a IN ({AX_SOME}, {AX_EQUIV_SOME});
        CREATE OR REPLACE TABLE props AS
          SELECT s AS p FROM ax WHERE a IN ({AX_DECL_PROP}, {AX_SUBPROP})
          UNION SELECT p FROM ax WHERE a IN ({AX_SUBPROP}, {AX_SOME}, {AX_EQUIV_SOME});
        CREATE OR REPLACE TABLE spstar AS
          WITH RECURSIVE tc(sub, sup) AS (
            SELECT sub, sup FROM sp
            UNION
            SELECT tc.sub, sp.sup FROM tc JOIN sp ON tc.sup = sp.sub
          )
          SELECT sub, sup FROM tc UNION SELECT p, p FROM props;
    """)


def _closure_and_rel(con: duckdb.DuckDBPyConnection) -> None:
    con.execute(f"""
        CREATE OR REPLACE TABLE tc AS
          WITH RECURSIVE tc(sub, sup) AS (
            SELECT sub, sup FROM sc
            UNION
            SELECT tc.sub, sc.sup FROM tc JOIN sc ON tc.sup = sc.sub
          )
          SELECT sub, sup FROM tc;
        CREATE OR REPLACE TABLE star AS
          SELECT sub, sup FROM tc
          UNION SELECT c, c FROM classes
          UNION SELECT c, {TOP} FROM classes WHERE c <> {TOP};
        CREATE OR REPLACE TABLE rel AS
          SELECT DISTINCT xs.sub AS s, sp.sup AS p, fo.sup AS o
          FROM somet t
          JOIN star xs ON t.s = xs.sup
          JOIN spstar sp ON t.p = sp.sub
          JOIN star fo ON t.f = fo.sub;
    """)


def reference(files: list[str], min_ts_us: int | None = None, threads: int = 4) -> dict:
    """R1-R4 fixpoint + bottom rules + output gates over the told rows of
    staged parquet files. Returns {'count', 'digest', 'r4_rounds',
    'unsat'}."""
    con = duckdb.connect()
    try:
        con.execute(f"SET threads = {int(threads)}")
        _axioms(con, files, min_ts_us)
        rounds = 0
        while True:
            _closure_and_rel(con)
            n_new = con.execute("""
                CREATE OR REPLACE TABLE newsc AS
                  SELECT DISTINCT r.s AS sub, d.f AS sup
                  FROM rel r JOIN defsome d ON r.p = d.p AND r.o = d.o
                  WHERE r.s <> d.f
                  EXCEPT SELECT sub, sup FROM sc;
                SELECT count(*) FROM newsc;
            """).fetchone()[0]
            if n_new == 0:
                break
            rounds += 1
            con.execute("INSERT INTO sc SELECT sub, sup FROM newsc")
        # bottom rules: c unsat <- c sc* Nothing; x unsat <- x sc* s,
        # some(s, p, f), f unsat
        con.execute(f"""
            CREATE OR REPLACE TABLE unsat AS
              WITH RECURSIVE u(c) AS (
                SELECT sub FROM star WHERE sup = {BOT}
                UNION
                SELECT xs.sub FROM u
                JOIN somet t ON t.f = u.c
                JOIN star xs ON xs.sup = t.s
              )
              SELECT c FROM u;
            CREATE OR REPLACE TABLE out AS
              SELECT s, p, o FROM rel
              WHERE s NOT IN ({TOP}, {BOT}) AND p NOT IN ({TOP}, {BOT})
                AND o NOT IN ({TOP}, {BOT}) AND o NOT IN (SELECT c FROM unsat)
              UNION ALL
              SELECT sub, {SUBCLASSOF}, sup FROM tc
              WHERE sub <> sup AND sub NOT IN ({TOP}, {BOT}) AND sup NOT IN ({TOP}, {BOT})
                AND sup NOT IN (SELECT c FROM unsat);
        """)
        n, digest = con.execute(_DIGEST.format("out")).fetchone()
        n_unsat = con.execute("SELECT count(*) FROM unsat").fetchone()[0]
        return {"count": int(n), "digest": int(digest), "r4_rounds": rounds,
                "unsat": int(n_unsat)}
    finally:
        con.close()


def edge_digest(source: str) -> tuple[int, int]:
    """(count, digest) of the (s, p, o) rows of `source`: a parquet glob
    string, or an Arrow table."""
    con = duckdb.connect()
    try:
        con.execute("SET threads = 2")
        if isinstance(source, str):
            rel = f"(SELECT s, p, o FROM read_parquet('{source}'))"
        else:
            con.register("edges_in", source)
            rel = "edges_in"
        n, digest = con.execute(_DIGEST.format(rel)).fetchone()
        return int(n), int(digest)
    finally:
        con.close()
