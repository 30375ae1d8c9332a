"""Randomized differential law for the SQL-text router.

The router (engine.py: the literal-geometry predicate rewrite, plus
spatial joins routed by splicing views over the text spans of Spark's
parse tree) is the one component that rewrites SQL text, so it gets a
generator-based law on top of the targeted tests: for a seeded corpus of SQL shapes over tiny
fixture tables, ``Engine.sql(q)`` must return exactly the rows plain
``spark.sql(q)`` returns (the UDFs are registered on the same session,
so naive evaluation — BNLJ joins, unpushed UDF filters — is a complete
oracle at this scale; reference analog: the scannable-table twin,
GeoMesaScannableTable.scala:29-44).

Shapes deliberately include the router's historical hazard zones:
string literals containing spatial tokens/quotes/parens, mixed keyword
case and whitespace, residual conjuncts, CTEs, derived tables, set
operations, join chains, and expression operands on both sides.
Ordering never matters (sorted-row compare); LIMIT only ever rides a
unique-key ORDER BY.
"""

import random

import pytest

from geomesa_sql_spark.engine import Engine

PREDS = ["ST_Within", "ST_Intersects", "ST_Contains", "ST_Covers"]
NONBBOX_PREDS = ["ST_Disjoint"]  # never bbox-rewritable; must pass through
TRAP_LITERALS = [
    "plain",
    "it''s quoted",
    "JOIN (ST_Within(a, b)) AND x",
    "WITH cte AS (SELECT'',",
    "UNION ALL -- not really",
]


def _poly(rng) -> str:
    x0 = rng.uniform(-3, 20)
    y0 = rng.uniform(-2, 1)
    w, h = rng.uniform(2, 12), rng.uniform(1, 4)
    return (
        f"POLYGON (({x0:.3f} {y0:.3f}, {x0 + w:.3f} {y0:.3f}, "
        f"{x0 + w:.3f} {y0 + h:.3f}, {x0:.3f} {y0 + h:.3f}, "
        f"{x0:.3f} {y0:.3f}))"
    )


def _pt(alias: str, rng) -> str:
    f = rng.choice(["1.0", "0.7", "1.3"])
    return (
        f"ST_MakePoint(CAST({alias}n_nationkey AS DOUBLE) * {f}, "
        f"CAST({alias}n_regionkey AS DOUBLE) * 0.5)"
    )


def _residual(alias: str, rng) -> str:
    return rng.choice(
        [
            f"MOD({alias}n_nationkey, 3) = 0",
            f"{alias}n_name LIKE '%A%'",
            f"{alias}n_regionkey BETWEEN 1 AND 3",
            f"{alias}n_nationkey < 18",
        ]
    )


def _kw(s: str, rng) -> str:
    """Randomize keyword case + interior whitespace (masking hazard)."""
    out = []
    for tok in s.split(" "):
        if tok.isalpha() and rng.random() < 0.3:
            tok = tok.lower() if rng.random() < 0.5 else tok.upper()
        out.append(tok)
    sep = "\n  " if rng.random() < 0.2 else " "
    return sep.join(out)


def _gen_where(rng) -> str:
    pred = rng.choice(PREDS + NONBBOX_PREDS)
    pt = _pt("", rng)
    poly = f"ST_GeomFromText('{_poly(rng)}')"
    a, b = (pt, poly) if rng.random() < 0.5 else (poly, pt)
    cond = f"{pred}({a}, {b})"
    if rng.random() < 0.3:
        cond = f"NOT {cond}"
    if rng.random() < 0.5:
        cond += f" AND {_residual('', rng)}"
    trap = rng.choice(TRAP_LITERALS)
    sel = f"n_nationkey, n_name, '{trap}' AS trap"
    q = f"SELECT {sel} FROM nation_t WHERE {cond}"
    if rng.random() < 0.3:
        q += " ORDER BY n_nationkey LIMIT 7"
    return q


def _gen_dwithin(rng) -> str:
    d = rng.uniform(0.5, 4)
    q = (
        f"SELECT n_nationkey, n_name FROM nation_t "
        f"WHERE ST_DWithin({_pt('', rng)}, "
        f"ST_GeomFromText('{_poly(rng)}'), {d:.3f})"
    )
    return q


def _env(alias: str, rng) -> str:
    f = rng.choice(["5.0", "4.0", "6.0"])
    return (
        f"ST_MakeEnvelope(CAST({alias}r_regionkey AS DOUBLE) * {f} - 1.0, "
        f"-1.0, CAST({alias}r_regionkey AS DOUBLE) * {f} + 3.5, 2.5)"
    )


def _gen_join(rng) -> str:
    pred = rng.choice(PREDS)
    pt, env = _pt("a.", rng), _env("b.", rng)
    l, r = (pt, env) if rng.random() < 0.5 else (env, pt)
    on = f"{pred}({l}, {r})"
    if rng.random() < 0.4:
        on += f" AND {_residual('a.', rng)}"
    q = (
        f"SELECT a.n_nationkey, a.n_name, b.r_name FROM nation_t a "
        f"JOIN region_t b ON {on}"
    )
    shape = rng.random()
    if shape < 0.25:
        # spatial-first chain with a trailing equi join
        q += " JOIN region_t c ON b.r_regionkey = c.r_regionkey"
        q = q.replace("b.r_name", "c.r_name", 1)
    elif shape < 0.45:
        # aggregate tail over the routed join
        q = (
            f"SELECT b.r_name, COUNT(*) AS n FROM nation_t a "
            f"JOIN region_t b ON {on} GROUP BY b.r_name"
        )
    return q


def _gen_cte(rng) -> str:
    inner = _gen_where(rng).replace(" ORDER BY n_nationkey LIMIT 7", "")
    return (
        f"WITH picked AS ({inner}) "
        f"SELECT p.n_nationkey, p.n_name, p.trap FROM picked p "
        f"WHERE MOD(p.n_nationkey, 2) = 0"
    )


def _gen_derived(rng) -> str:
    inner = _gen_where(rng).replace(" ORDER BY n_nationkey LIMIT 7", "")
    return (
        f"SELECT x.n_name FROM ({inner}) x "
        f"JOIN region_t r ON MOD(x.n_nationkey, 5) = r.r_regionkey"
    )


def _gen_setop(rng) -> str:
    op = rng.choice(["UNION", "UNION ALL", "EXCEPT", "INTERSECT"])
    a = _gen_where(rng).replace(" ORDER BY n_nationkey LIMIT 7", "")
    b = _gen_where(rng).replace(" ORDER BY n_nationkey LIMIT 7", "")
    # identical select-list shape required; traps differ per branch,
    # which also exercises EXCEPT/INTERSECT literal handling
    return f"{a} {op} {b}"


# routable operands: bare coordinate and WKB columns out of derived tables
ROUTABLE_PREDS = ["ST_Within", "ST_Intersects", "ST_Contains"]


def _pts_dt(alias: str, rng) -> str:
    f = rng.choice(["1.0", "0.7", "1.3"])
    return (
        f"(SELECT n_nationkey, n_name, CAST(n_nationkey AS DOUBLE) * {f} AS x, "
        f"CAST(n_regionkey AS DOUBLE) * 0.5 AS y FROM nation_t) {alias}"
    )


def _env_dt(alias: str, rng) -> str:
    return f"(SELECT r_regionkey, r_name, {_env('', rng)} AS g FROM region_t) {alias}"


def _routable_on(rng) -> str:
    pred = rng.choice(ROUTABLE_PREDS)
    pt, g = "ST_MakePoint(a.x, a.y)", "b.g"
    if pred == "ST_Contains" or (pred == "ST_Intersects" and rng.random() < 0.5):
        return f"{pred}({g}, {pt})"
    return f"{pred}({pt}, {g})"


def _gen_mixed_setop(rng) -> str:
    """UNION with INTERSECT/EXCEPT in one statement, spatial joins in
    the branches: SQL's precedence (INTERSECT binds tighter) groups it."""
    def join() -> str:
        return (
            f"SELECT a.n_nationkey, a.n_name FROM {_pts_dt('a', rng)} "
            f"JOIN {_env_dt('b', rng)} ON {_routable_on(rng)}"
        )

    plain = f"SELECT n_nationkey, n_name FROM nation_t WHERE {_residual('', rng)}"
    ops = rng.sample(["UNION", "UNION ALL", rng.choice(["INTERSECT", "EXCEPT"])], 2)
    branches = [join(), plain, join()]
    rng.shuffle(branches)
    return f"{branches[0]} {ops[0]} {branches[1]} {ops[1]} {branches[2]}"


def _gen_cte_derived_join(rng) -> str:
    """A spatial join inside a derived table inside a CTE body."""
    resid = rng.choice(["MOD(h.n_nationkey, 3) = 0", "h.r_name LIKE '%A%'"])
    return (
        f"WITH hits AS (SELECT h.n_nationkey, h.r_name FROM ("
        f"SELECT a.n_nationkey, b.r_name FROM {_pts_dt('a', rng)} "
        f"JOIN {_env_dt('b', rng)} ON {_routable_on(rng)}) h "
        f"WHERE {resid}) "
        f"SELECT n_nationkey, r_name FROM hits"
    )


def _gen_cte_exists(rng) -> tuple[str, str]:
    """A correlated spatial [NOT] EXISTS inside a CTE body. Spark plans
    that EXISTS as a semi/anti join and rejects a Python UDF in its ON
    clause, so the oracle is the same CTE written as an inner join
    (distinct: the key is unique) or an EXCEPT of one."""
    neg = rng.random() < 0.4
    pts, env, on = _pts_dt("a", rng), _env_dt("b", rng), _routable_on(rng)
    cols = "a.n_nationkey, a.n_name"
    q = (
        f"WITH near AS (SELECT {cols} FROM {pts} "
        f"WHERE {'NOT ' if neg else ''}EXISTS (SELECT 1 FROM {env} WHERE {on})) "
        f"SELECT n.n_nationkey, n.n_name FROM near n"
    )
    hits = f"SELECT DISTINCT {cols} FROM {pts} JOIN {env} ON {on}"
    body = f"SELECT {cols} FROM {pts} EXCEPT {hits}" if neg else hits
    return q, f"WITH near AS ({body}) SELECT n.n_nationkey, n.n_name FROM near n"


def _gen_nonspatial(rng) -> str:
    trap = rng.choice(TRAP_LITERALS)
    q = (
        f"SELECT n.n_name, r.r_name, '{trap}' AS trap "
        f"FROM nation_t n JOIN region_t r "
        f"ON n.n_regionkey = r.r_regionkey "
        f"WHERE {_residual('n.', rng)}"
    )
    return q


GENS = [
    _gen_where,
    _gen_where,
    _gen_dwithin,
    _gen_join,
    _gen_join,
    _gen_cte,
    _gen_derived,
    _gen_setop,
    _gen_nonspatial,
    _gen_mixed_setop,
    _gen_cte_derived_join,
    _gen_cte_exists,
]


@pytest.fixture(scope="module")
def fuzz_eng(spark, sf_dir):
    e = Engine(spark, fid_col="n_nationkey")
    e.register_table("nation_t", f"{sf_dir}/nation.parquet")
    e.register_table("region_t", f"{sf_dir}/region.parquet")
    return e


def _rows(df):
    return sorted(tuple(str(v) for v in row) for row in df.collect())


def test_router_differential_fuzz(fuzz_eng, spark):
    rng = random.Random(20260818)
    failures = []
    for i in range(4 * len(GENS)):
        q, oracle = GENS[i % len(GENS)](rng), None
        if isinstance(q, tuple):  # a shape plain spark.sql cannot plan
            q, oracle = q
        q = _kw(q, rng)
        # oracle defines validity; raises = gen bug
        want = _rows(spark.sql(oracle or q))
        try:
            got = _rows(fuzz_eng.sql(q))
        except Exception as ex:  # router must never crash on valid SQL
            failures.append((q, f"engine raised: {ex!r}"))
            continue
        if got != want:
            failures.append(
                (q, f"rows differ: engine {len(got)} vs oracle {len(want)}")
            )
    assert not failures, "\n\n".join(f"{m}\n  {q}" for q, m in failures)
