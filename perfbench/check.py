"""Answer checks: broker responses against DuckDB twins of each statement."""
import json
import math

# DISTINCTCOUNTHLL runs at rsd 0.065 (log2m=8); accept four standard errors
HLL_BOUND = 4 * 0.065


def num(v):
    """Number from a broker cell (string by default) or a DuckDB value; None if not numeric."""
    if v is None or isinstance(v, bool):
        return None
    if isinstance(v, (int, float)):
        return v
    try:
        return float(v)
    except (TypeError, ValueError):
        return None


def same(got, want):
    if want is None:
        return got in (None, "null")
    a, b = num(got), num(want)
    if b is not None and not isinstance(want, str):
        return a is not None and math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return str(got) == str(want)


class Reference:
    """DuckDB over the benchmark's parquet inputs; answers are memoised per SQL."""

    def __init__(self, views):
        import duckdb
        self.con = duckdb.connect()
        for name, glob in views.items():
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{glob}')")
        self.memo = {}

    def rows(self, sql):
        if sql not in self.memo:
            self.memo[sql] = self.con.execute(sql).fetchall()
        return self.memo[sql]


def _groups(resp, nkeys):
    """Group-by response as rows: keys then one value per function, in TOP order."""
    aggs = resp["aggregationResults"]
    out = []
    for i, g in enumerate(aggs[0]["groupByResult"]):
        out.append(list(g["group"][:nkeys]) + [a["groupByResult"][i]["value"] for a in aggs])
    return out


def _group_ok(got, want, nkeys):
    """Same values in TOP order; keys may differ only where the ranking value ties."""
    if len(got) != len(want):
        return False
    ranks = [num(w[nkeys]) for w in want]
    for i, (g, w) in enumerate(zip(got, want)):
        if not all(same(a, b) for a, b in zip(g[nkeys:], w[nkeys:])):
            return False
        if not all(same(a, b) for a, b in zip(g[:nkeys], w[:nkeys])):
            tied = any(j != i and ranks[j] is not None and ranks[i] is not None
                       and math.isclose(ranks[j], ranks[i], rel_tol=1e-9, abs_tol=1e-9)
                       for j in range(len(want)))
            if not tied:
                return False
    return True


def verify(ref, st, body, bound=None):
    """None if the broker answer to `st` is right, else a short reason."""
    try:
        resp = json.loads(body)
    except ValueError:
        return "response is not JSON"
    if resp.get("exceptions"):
        return "exception: " + json.dumps(resp["exceptions"])[:200]
    sql = st.sql.replace("{S}", str(bound)) if bound is not None else st.sql
    want = ref.rows(sql)
    try:
        if st.check == "sel":
            got = resp["selectionResults"]["results"]
            ok = len(got) == len(want) and all(
                same(a, b) for g, x in zip(got, want) for a, b in zip(g, x))
            return None if ok else f"page has {len(got)} rows, want {len(want)}, or differs"
        if st.check == "group":
            return None if _group_ok(_groups(resp, st.keys), [list(w) for w in want], st.keys) \
                else "groups differ"
        got = [a["value"] for a in resp["aggregationResults"]]
        if st.check == "agg":
            ok = len(got) == len(want[0]) and all(same(a, b) for a, b in zip(got, want[0]))
            return None if ok else f"got {got}, want {list(want[0])}"
        if st.check == "hll":
            exact = want[0][0]
            ok = abs(num(got[0]) - exact) <= HLL_BOUND * max(exact, 1)
            return None if ok else f"HLL {got[0]} vs exact {exact}"
        if st.check == "pctest":
            w = want[0]
            for k, g in enumerate(got):
                lo, hi = w[2 * k], w[2 * k + 1]
                if not (math.floor(lo) - 1 <= num(g) <= math.ceil(hi) + 1):
                    return f"estimate {g} outside [{lo}, {hi}]"
            return None
    except (KeyError, IndexError, TypeError) as e:
        return f"unexpected response shape ({e!r})"
    return f"unknown check {st.check}"
