#!/usr/bin/env python3
"""Local twin of the driver's correctness gate: read each Verify output
parquet, run the matching oracle SQL in DuckDB over the same testdata,
and diff (columns sorted by name, rows sorted, values stringified).

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [--skip q,q,...]
       python3 tools/check.py <sfDir> <verifyOutDir> --against <otherOutDir>

--skip names oracle entries to leave out (e.g. q19_ngram_jaccard at
sf1, whose SQL replay is quadratic in candidate pairs); a query whose
output dir is missing is also skipped when named here instead of
counting as a failure.  Queries Verify recorded as failed
(verify_status.json) are printed first with their exception messages.

--against compares the two Verify output dirs with each other instead
of with the oracle: row for row at full precision (floats by their
shortest round-trip repr), listing every query whose rows differ or
that only one dir has.  Use it to show a change leaves outputs
bit-identical to a parent build.
"""
import argparse, json, os, re, sys
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Oracles embed expensive CTE chains (LSH pairs, k-means assignment)
# that several queries share verbatim; the generator wraps them in
# /*SHARED <name> EXPORTS <cte,...>*/ ... /*END SHARED*/ comment
# sentinels.  Each SQL stays fully self-contained (the comments are
# invisible to DuckDB, so the driver's standalone gate is untouched);
# HERE we materialize each export once into a temp table and rewrite
# the query to read it — at sf1 this turns five LSH-chain evaluations
# into one.
SHARED_RE = re.compile(r"/\*SHARED (\w+) EXPORTS ([\w,]+)\*/(.*?)/\*END SHARED\*/",
                       re.S)

def rewrite_shared(sql, con, seen_chains, materialized):
    m = SHARED_RE.search(sql)
    if not m:
        return sql
    name, exports, chain = m.group(1), m.group(2).split(","), m.group(3)
    if name in seen_chains:
        # same name MUST mean same chain, or the cache would silently
        # serve one query's results to a different computation
        assert seen_chains[name] == chain, f"SHARED {name}: divergent chain text"
    else:
        seen_chains[name] = chain
    for cte in exports:
        t = f"shared_{name}_{cte}"
        if t not in materialized:
            # DuckDB evaluates only the CTEs the SELECT reaches, so
            # cheap exports don't pay for expensive sibling CTEs
            con.execute(f"CREATE TEMP TABLE {t} AS WITH {chain} SELECT * FROM {cte}")
            materialized.add(t)
            print(f"SHARED materialized {t}")
    stubs = ", ".join(f"{c} AS (SELECT * FROM shared_{name}_{c})" for c in exports)
    return sql[:m.start()] + stubs + sql[m.end():]

# Self-containment guard: every oracle must be runnable RAW (the
# driver never materializes SHARED chains), so a CTE name that appears
# twice in one statement — e.g. a query-local CTE colliding with a
# chain-internal name — is a driver-side parse error even when the
# SHARED rewrite here would mask it.  Matches `name [(cols)] AS
# (SELECT|VALUES|WITH ...` which is exactly the CTE-definition shape
# (CAST(x AS TYPE(...)), derived-table aliases, and column aliases
# never put SELECT/VALUES after `AS (`).
CTE_RE = re.compile(r"\b(\w+)\s*(?:\([\w\s,]*\))?\s+AS\s*\(\s*(?:SELECT|VALUES|WITH)\b",
                    re.I)

def dup_ctes(sql):
    seen, dups = set(), []
    for m in CTE_RE.finditer(sql):
        n = m.group(1).lower()
        if n in seen and n not in dups:
            dups.append(n)
        seen.add(n)
    return dups

def norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return f"{v:.6f}"
    return str(v)

def print_verify_status(out_dir):
    """Echo Verify's durable failure record (verify_status.json: query
    name -> exception message), first line of each message.  Those
    queries have no output dir, so they also FAIL below."""
    path = os.path.join(out_dir, "verify_status.json")
    if not os.path.exists(path):
        return
    with open(path) as f:
        status = json.load(f)
    for name in sorted(status):
        lines = status[name].splitlines()
        print(f"VERIFY FAILED {name}: {lines[0] if lines else ''}")

def main(sf_dir, out_dir, skip=(), no_shared=False):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    print_verify_status(out_dir)
    n_pass = n_fail = 0
    seen_chains, materialized = {}, set()
    for name in sorted(oracles):
        if name in skip:
            print(f"SKIP {name}")
            continue
        sql = oracles[name]
        dups = dup_ctes(sql)
        if dups:
            print(f"FAIL {name}: duplicate CTE name(s) in raw oracle: {dups}")
            n_fail += 1
            continue
        spark_path = os.path.join(out_dir, name)
        if not os.path.isdir(spark_path):
            print(f"FAIL {name}: no spark output dir")
            n_fail += 1
            continue
        try:
            if not no_shared:
                sql = rewrite_shared(sql, con, seen_chains, materialized)
            sp = con.execute(
                f"SELECT * FROM '{spark_path}/*.parquet'").fetch_arrow_table()
            du = con.execute(sql).fetch_arrow_table()
        except Exception as e:
            print(f"FAIL {name}: {e}")
            n_fail += 1
            continue
        sp_cols = sorted(sp.column_names)
        du_cols = sorted(du.column_names)
        if sp_cols != du_cols:
            print(f"FAIL {name}: columns spark={sp_cols} duck={du_cols}")
            n_fail += 1
            continue
        sp_rows = sorted(tuple(norm(sp.column(c)[i].as_py()) for c in sp_cols)
                         for i in range(sp.num_rows))
        du_rows = sorted(tuple(norm(du.column(c)[i].as_py()) for c in du_cols)
                         for i in range(du.num_rows))
        if sp_rows == du_rows:
            print(f"PASS {name} ({len(sp_rows)} rows)")
            n_pass += 1
        else:
            print(f"FAIL {name}: rows spark={len(sp_rows)} duck={len(du_rows)}")
            shown = 0
            for i in range(max(len(sp_rows), len(du_rows))):
                a = sp_rows[i] if i < len(sp_rows) else None
                b = du_rows[i] if i < len(du_rows) else None
                if a != b and shown < 5:
                    print(f"  spark={a}\n  duck ={b}")
                    shown += 1
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0

def exact(v):
    """Full-precision cell text: repr keeps every bit of a float."""
    if isinstance(v, float):
        return repr(v)
    return "NULL" if v is None else str(v)

def read_rows(con, path):
    t = con.execute(f"SELECT * FROM '{path}/*.parquet'").fetch_arrow_table()
    cols = sorted(t.column_names)
    return cols, sorted(tuple(exact(t.column(c)[i].as_py()) for c in cols)
                        for i in range(t.num_rows))

def against(out_dir, other_dir, skip=()):
    """Row-for-row, full-precision diff of two Verify output dirs."""
    con = duckdb.connect()
    def queries(d):
        return {n for n in os.listdir(d) if os.path.isdir(os.path.join(d, n))}
    mine, theirs = queries(out_dir), queries(other_dir)
    n_same, differ = 0, []
    for name in sorted((mine | theirs) - set(skip)):
        if name not in mine or name not in theirs:
            differ.append(name)
            print(f"DIFF {name}: only in {out_dir if name in mine else other_dir}")
            continue
        a = read_rows(con, os.path.join(out_dir, name))
        b = read_rows(con, os.path.join(other_dir, name))
        if a == b:
            n_same += 1
            continue
        differ.append(name)
        print(f"DIFF {name}: columns {a[0]} vs {b[0]}, rows {len(a[1])} vs {len(b[1])}")
        shown = 0
        for x, y in zip(a[1], b[1]):
            if x != y and shown < 5:
                print(f"  {out_dir}: {x}\n  {other_dir}: {y}")
                shown += 1
    print(f"\n{n_same} identical, {len(differ)} differ" +
          (f": {','.join(differ)}" if differ else ""))
    return 1 if differ else 0

if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("sf_dir", help="testdata dir with the parquet tables")
    ap.add_argument("out_dir", help="Verify output dir (holds oracle_sql.json)")
    ap.add_argument("--skip", default="", metavar="q,q,...",
                    help="comma-separated oracle names to leave out")
    ap.add_argument("--no-shared", action="store_true",
                    help="disable shared-CTE materialization (A/B timing)")
    ap.add_argument("--against", metavar="OTHER_OUT_DIR",
                    help="diff verifyOutDir against another Verify output dir "
                         "at full precision instead of running the oracle")
    args = ap.parse_args()
    skip = tuple(s for s in args.skip.split(",") if s)
    if args.against:
        sys.exit(against(args.out_dir, args.against, skip))
    with open(os.path.join(args.out_dir, "oracle_sql.json")) as f:
        known = set(json.load(f))
    unknown = [s for s in skip if s not in known]
    if unknown:
        ap.error(f"--skip names not in oracle_sql.json: {unknown}")
    sys.exit(main(args.sf_dir, args.out_dir, skip, args.no_shared))
