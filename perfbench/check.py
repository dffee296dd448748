"""Independent output checks for the benchmark, computed with DuckDB.

The checks never call the program: they read its output files and
compare them with what DuckDB computes from the same input parquet.

migrate: every INSERT statement of every table's script is parsed here.
Tuples must have the table's column count, their number must equal
DuckDB's count(*) over the source parquet, and per column the parsed
literals must agree with DuckDB's values: exact sums of integers, exactly
rounded sums of doubles, min and max of timestamps, and total UTF-8 length
plus an order-independent hash of the unescaped strings (of the float32
elements, for list columns). A statement of more than one tuple must
fit the packet less the writer's 10-byte reserve (UTF-8 bytes + 10 <=
packet). A table whose script breaks only that reserve is a failed
operation (the program's batch writer does so; see CHANGES.md); any other
problem makes the run incorrect. The last pass is checked in full; an
earlier pass whose script files are byte-identical to the last pass's
shares its verdict, and one that differs is checked in full too.

queries: each query's result parquet must hold the same rows as its
oracle SQL run in DuckDB over the same fixture copy (columns sorted by
name, rows sorted, values compared at full precision).

self_test() mutates real output in memory -- a dropped tuple, a changed
literal, two result rows swapping a value -- and reports whether the
checks catch each one.
"""
import glob
import hashlib
import json
import math
import multiprocessing
import os
import re

import duckdb
import numpy as np

RESERVED_BYTES = 10
WORKERS = 4
# one SQL literal: a quoted string ('' and \\ escapes) or a bare token
VALUE = r"'[^'\\]*(?:(?:''|\\.)[^'\\]*)*'|[^\s(),']+"


def _unquote(lit):
    return lit[1:-1].replace("''", "'").replace("\\\\", "\\")


def _mask(h):
    return h & 0xFFFFFFFFFFFFFFFF


def _ts_literal(v):
    """A timestamp as the MySQL literal text: fraction trimmed to ms or us."""
    base = v.strftime("%Y-%m-%d %H:%M:%S")
    if v.microsecond == 0:
        return base
    if v.microsecond % 1000 == 0:
        return f"{base}.{v.microsecond // 1000:03d}"
    return f"{base}.{v.microsecond:06d}"


def _f32_rows_hash(rows):
    return _mask(sum(hash(np.asarray(r, dtype=np.float32).tobytes()) for r in rows))


def _strings(lits):
    """Unescaped values of quoted string literals."""
    body = [v[1:-1] for v in lits]
    if any("'" in b or "\\" in b for b in body):
        body = [b.replace("''", "'").replace("\\\\", "\\") for b in body]
    return body


def _literal_summary(kind, lits):
    """(count, nulls, aggregate) of one column's literals in one statement."""
    vals = [v for v in lits if v != "NULL"]
    if kind == "int":
        agg = sum(map(int, vals))
    elif kind == "double":
        agg = np.fromiter(map(float, vals), np.float64, len(vals))
    elif kind == "ts":
        # quoted literals of one fixed format order as their values do
        agg = (_unquote(min(vals)), _unquote(max(vals))) if vals else None
    elif kind == "str":
        strs = _strings(vals)
        joined = "".join(strs)
        size = len(joined) if joined.isascii() else len(joined.encode("utf-8"))
        agg = (size, _mask(sum(map(hash, strs))))
    else:  # float32 list, rendered as JSON text
        rows = [json.loads(v) for v in _strings(vals)]
        agg = (sum(map(len, rows)), _f32_rows_hash(rows))
    return [len(lits), len(lits) - len(vals), agg]


def _merge(kind, a, b):
    n, nulls = a[0] + b[0], a[1] + b[1]
    x, y = a[2], b[2]
    if kind == "int":
        agg = x + y
    elif kind == "double":
        agg = np.concatenate([x, y])
    elif kind == "ts":
        agg = y if x is None else x if y is None else (min(x[0], y[0]), max(x[1], y[1]))
    else:
        agg = (x[0] + y[0], _mask(x[1] + y[1]))
    return [n, nulls, agg]


def _final(kind, summary):
    n, nulls, agg = summary
    # fsum is the exactly rounded sum, so it does not depend on row order
    return (n, nulls, math.fsum(agg) if kind == "double" else agg)


def _kind(duck_type):
    t = str(duck_type).upper()
    if t.endswith("[]"):
        return "f32list"
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT"):
        return "int"
    if t in ("DOUBLE", "FLOAT"):
        return "double"
    if t.startswith("TIMESTAMP"):
        return "ts"
    return "str"


def source_stats(con, parquet):
    """Per-column aggregates of the source table, computed by DuckDB."""
    rel = con.sql(f"SELECT * FROM '{parquet}'")
    cols, kinds = rel.columns, [_kind(t) for t in rel.types]
    aggs = ["count(*)"]
    for c, kind in zip(cols, kinds):
        aggs.append(f'count("{c}")')
        if kind == "int":
            aggs.append(f'coalesce(sum("{c}"), 0)')
        if kind == "ts":
            aggs += [f'min("{c}")', f'max("{c}")']
    row = list(con.sql(f"SELECT {', '.join(aggs)} FROM '{parquet}'").fetchone())
    n = row.pop(0)
    rest = [c for c, k in zip(cols, kinds) if k not in ("int", "ts")]
    data = con.sql(f"SELECT {', '.join(f'{chr(34)}{c}{chr(34)}' for c in rest)} "
                   f"FROM '{parquet}'").arrow() if rest else None
    stats = {}
    for c, kind in zip(cols, kinds):
        present = row.pop(0)
        if kind == "int":
            agg = int(row.pop(0))
        elif kind == "ts":
            lo, hi = row.pop(0), row.pop(0)
            agg = (_ts_literal(lo), _ts_literal(hi)) if present else None
        elif kind == "double":
            agg = math.fsum(data.column(c).drop_null().to_numpy())
        else:
            vals = data.column(c).drop_null().to_pylist()
            if kind == "str":
                agg = (sum(len(v.encode("utf-8")) for v in vals), _mask(sum(map(hash, vals))))
            else:
                agg = (sum(map(len, vals)), _f32_rows_hash(vals))
        stats[c] = (n, n - present, agg)
    return cols, kinds, stats


def _script_files(target_dir, table):
    return sorted(glob.glob(os.path.join(target_dir, f"{table}.rows.p*.sql")) +
                  glob.glob(os.path.join(target_dir, f"{table}.rows.sql")))


def script_digest(target_dir, table):
    h = hashlib.sha256()
    for f in _script_files(target_dir, table):
        h.update(os.path.basename(f).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def statements(target_dir, table):
    """INSERT statements of one table's script files, in file order."""
    out = []
    for f in _script_files(target_dir, table):
        with open(f, encoding="utf-8") as fh:
            text = fh.read()
        for block in text.split("\nBEGIN;\n")[1:]:
            out.append(block.split(";\nCOMMIT;", 1)[0])
    return out


def _tuple_pattern(n):
    """One rendered VALUES tuple of n literals: `(v1, v2) `."""
    return re.compile(r"\((" + VALUE + ")" + "".join(r", (" + VALUE + ")" for _ in range(n - 1)) + r"\) ")


def _statement_summary(job):
    """Column summaries of one statement, its tuple count, its byte size and
    any problem. The tuples must cover the VALUES list exactly: text between
    them other than the separating commas changes the total length.
    """
    stmt, head, kinds = job
    if not stmt.startswith(head):
        return None, 0, 0, f"does not start with {head!r}"
    body = stmt[len(head):]
    tuples = _tuple_pattern(len(kinds)).findall(body)
    if len(kinds) == 1:
        tuples = [(v,) for v in tuples]
    cols = list(zip(*tuples)) or [()] * len(kinds)
    covered = sum(sum(map(len, c)) for c in cols) + len(tuples) * (2 * len(kinds) + 2) - 1
    if not tuples or covered != len(body):
        return None, 0, 0, f"is not a list of {len(kinds)}-value tuples"
    summ = [_literal_summary(k, c) for k, c in zip(kinds, cols)]
    return summ, len(tuples), len(stmt.encode("utf-8")), None


def script_stats(pool, stmts, table, cols, kinds, max_packet):
    """Per-column aggregates parsed from the statements, the problems found,
    and the number of multi-tuple statements that fit the packet but not
    its 10-byte reserve.
    """
    head = f"INSERT INTO `{table}` (" + ", ".join(f"`{c}`" for c in cols) + ") VALUES"
    acc = [[0, 0, {"int": 0, "double": np.empty(0), "ts": None}.get(k, (0, 0))] for k in kinds]
    errors, over_reserve = [], 0
    jobs = [(s, head, kinds) for s in stmts]
    for i, (summ, tuples, size, problem) in enumerate(pool.imap(_statement_summary, jobs)):
        if problem:
            errors.append(f"{table}: statement {i} {problem}")
            continue
        if tuples > 1 and size > max_packet:
            errors.append(f"{table}: statement {i} has {size} bytes, over the {max_packet}-byte packet")
        elif tuples > 1 and size + RESERVED_BYTES > max_packet:
            over_reserve += 1
        for j, kind in enumerate(kinds):
            acc[j] = _merge(kind, acc[j], summ[j])
    return {c: _final(k, a) for c, k, a in zip(cols, kinds, acc)}, errors, over_reserve


def _source_job(parquet):
    return source_stats(duckdb.connect(), parquet)


def check_table(pool, source, manifest, target_dir, table, stmts=None):
    """(problems, statements over the packet reserve) for one table.
    `source` is the table's (columns, kinds, DuckDB aggregates)."""
    cols, kinds, want = source
    if stmts is None:
        stmts = statements(target_dir, table)
    got, errors, over_reserve = script_stats(pool, stmts, table, cols, kinds, manifest["max_packet"])
    for c in cols:
        if got[c] != want[c]:
            errors.append(f"{table}.{c}: script {_short(got[c])} != source {_short(want[c])}")
    return errors, over_reserve


def _short(v):
    s = repr(v)
    return s if len(s) < 120 else s[:117] + "..."


def _parquet(manifest, table):
    return os.path.join(manifest["source_dir"], f"{table}.parquet")


def _pool():
    # fork: the workers share this process's string-hash seed
    return multiprocessing.get_context("fork").Pool(WORKERS)


def check_migrate(manifest):
    """(problems, failed) for every pass's script output: `failed` lists,
    per pass, the tables whose script breaks the packet reserve and has no
    other problem."""
    errors, failed = [], []
    dirs, tables = manifest["target_dirs"], manifest["tables"]
    last = [script_digest(dirs[-1], t) for t in tables]
    verdicts = {}  # (table, digest) -> breaks the reserve
    pool = _pool()
    try:
        # DuckDB's side of every table is computed alongside the parsing
        sources = {t: pool.apply_async(_source_job, (_parquet(manifest, t),))
                   for t in tables}
        for k in reversed(range(len(dirs))):
            digests = last if k == len(dirs) - 1 else [script_digest(dirs[k], t) for t in tables]
            bad = []
            for t, d in zip(tables, digests):
                if (t, d) not in verdicts:
                    e, o = check_table(pool, sources[t].get(), manifest, dirs[k], t)
                    errors += [f"pass {k + 1}: {x}" for x in e]
                    for x in ([f"{t}: {o} multi-tuple statement(s) over the "
                               f"{RESERVED_BYTES}-byte packet reserve"] if o else []):
                        print(f"check: pass {k + 1}: {x}")
                    verdicts[(t, d)] = o > 0 and not e
                if verdicts[(t, d)]:
                    bad.append(t)
            failed.insert(0, bad)
    finally:
        pool.close()
        pool.join()
    return errors, failed


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_norm(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, bytes):
        return "0x" + v.hex()
    return str(v)


def result_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    table = sorted(tuple(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(repr([cols[i] for i in order]).encode())
    for r in table:
        h.update(repr(r).encode())
    return h.hexdigest()


def fixture_con(fixture_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for f in sorted(os.listdir(fixture_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(fixture_dir, f)}'")
    return con


def spark_result(con, out_dir, name):
    rel = con.sql(f"SELECT * FROM read_parquet('{os.path.join(out_dir, name)}/*.parquet')")
    return list(rel.columns), rel.fetchall()


def check_queries(manifest):
    con = fixture_con(manifest["fixture_dir"])
    errors = []
    for name, sql in sorted(manifest["oracle"].items()):
        try:
            o = con.sql(sql)
            want = result_hash(list(o.columns), o.fetchall())
            got = result_hash(*spark_result(con, manifest["out_dir"], name))
        except Exception as e:  # a query whose output cannot be read fails its check
            errors.append(f"{name}: {e}")
            continue
        if got != want:
            errors.append(f"{name}: result hash {got[:12]} != oracle {want[:12]}")
    return errors


def self_test(kind, manifest):
    """Mutations of real output the checks must catch: name -> caught?"""
    out = {}
    if kind == "queries":
        con = fixture_con(manifest["fixture_dir"])
        for name in sorted(manifest["oracle"]):
            cols, rows = spark_result(con, manifest["out_dir"], name)
            # two rows that differ in column c and elsewhere, so that swapping
            # their c values changes the set of rows
            pairs = [(i, c) for c in range(len(cols)) for i in range(len(rows) - 1)
                     if sum(x != y for x, y in zip(rows[i], rows[i + 1])) > 1
                     and rows[i][c] != rows[i + 1][c]]
            if pairs:
                i, c = pairs[0]
                swapped = [list(r) for r in rows]
                swapped[i][c], swapped[i + 1][c] = rows[i + 1][c], rows[i][c]
                out["swapped result row"] = result_hash(cols, swapped) != result_hash(cols, rows)
                break
        return out
    table = "nation" if "nation" in manifest["tables"] else manifest["tables"][0]
    target_dir = manifest["target_dirs"][-1]
    source = _source_job(_parquet(manifest, table))
    stmts = statements(target_dir, table)
    dropped = list(stmts)
    dropped[0] = dropped[0][:dropped[0].rindex(",(")]
    changed = list(stmts)
    m = re.search(r"\((\d+),", changed[0])
    changed[0] = changed[0][:m.start(1)] + str(int(m.group(1)) + 1) + changed[0][m.end(1):]
    pool = _pool()
    try:
        out["dropped tuple"] = bool(check_table(pool, source, manifest, target_dir, table, dropped)[0])
        out["changed literal"] = bool(check_table(pool, source, manifest, target_dir, table, changed)[0])
    finally:
        pool.close()
        pool.join()
    return out
