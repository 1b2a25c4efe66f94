#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate.

Usage: python3 tools/oracle_check.py <sfDir> <verifyOutDir> [names_csv]

Reads each <out>/<name> parquet written by graft.Verify, runs the matching
oracle SQL from <out>/oracle_sql.json in DuckDB (tables = views over the
sfDir parquet), sorts columns by name + rows, and compares values.

Parallelism (VERDICT r13 #2 — the serial compare was over half the decade
cert's wall): queries fan out over a process pool (ORACLE_JOBS, default
min(8, cpus/4)), each worker holding its own DuckDB connection with a
bounded memory share. PASS lines stream as they complete (so a killed run
still shows what it proved, same as the old serial loop); anything the
pool FAILED or never returned is re-checked serially in the main process
with an unbounded default connection before the verdict is printed — a
worker-resource failure (OOM inside a capped worker, a pool crash) can
therefore never manufacture a FAIL, only cost a retry. The final
"== N pass, M fail ==" summary line still proves the compare ran to the
end. ORACLE_JOBS=1 keeps the fully-serial behavior.

Cost-aware scheduling (r14): after every COMPLETE run the per-query
walls are written to <outDir>/_oracle_costs.json; the next run over the
same dump dir (the driver's post-round bench adopts the builder's dump
via the marker, and the cost file rides along) submits longest-first
(LPT), so the heavy tail starts at t=0 across the pool instead of
landing on a drained pool as a straggler. First run on a fresh dump
falls back to catalog order — correctness is identical either way, only
latency moves. Two rejected designs, measured at the 10x sf0.1 corpus:
per-query thread WIDENING for known-heavy queries OOM-killed a pool
worker when LPT made all 8 workers heavy simultaneously (a dead worker
fails every pending future -> 133-query serial retry, 15 min); and the
real fix for the heavy tail was demand-side anyway — DuckDB 1.0 inlines
plain CTEs at every reference, so multi-referenced CTEs in the oracle
SQL (shingle sets, LSH band rows, graph nodes/edges) were being
re-evaluated 3-8x until the generators marked them AS MATERIALIZED
(dedup_components at 10x: 103 s -> 12 s at 32 threads, identical rows).

r15 (ADVICE r14): each cached wall records the LANE that measured it
(pool = 4-thread capped worker; main/serial = full-thread unbounded
connection), because the two are not comparable — dedup_semantic runs
~25 s at full threads but ~183 s in a capped worker, so a full-thread
wall under the 60 s pool budget says nothing about pool fitness. Tier
selection uses per-lane thresholds (pool wall >= 60 s, full-thread
wall >= 15 s — conservative against the measured ~7x thread ratio) and
is CAPPED at the single heaviest eligible query: an uncapped tier
serialized 15 queries (1,239 s chain, pool idle) at the 100x corpus,
where the heavy dedup oracles turn out not to be thread-limited at
all. Legacy lane-less caches are read as pool walls. And the main-tier
connection itself now carries an explicit memory_limit (~35% of RAM,
the share NOT allotted to the pool's 60% aggregate): its previous
default ~80%-of-RAM cap ran CONCURRENTLY with the pool and the live
Spark JVM, and one OS OOM kill of a pool worker fails every pending
future — the exact mass-serial-retry cascade the rejected
thread-widening design demonstrated.
"""
import hashlib, json, math, os, sys, time
import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(rows, cols):
    """Sort columns by name, then rows; normalize floats/ints."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        if isinstance(v, bool):
            return ("b", v)
        if isinstance(v, float):
            if math.isnan(v):
                return ("f", "nan")
            return ("f", round(v, 9))
        if isinstance(v, int):
            return ("i", v)
        return ("s", str(v))

    out = [tuple(norm(r[i]) for i in order) for r in rows]
    out.sort()
    return [cols[i] for i in order], out


def connect(sf_dir, threads=None, mem_bytes=None):
    con = duckdb.connect()
    if threads:
        con.execute(f"SET threads={threads}")
    if mem_bytes:
        con.execute(f"SET memory_limit='{mem_bytes // (1 << 20)}MB'")
    for t in TABLES:
        # testdata ships single files; ScaleUp corpora (10x decade dirs)
        # are Spark-written DIRECTORIES — glob those, so the decade-scale
        # certification runs with this tool
        src = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(src):
            src = f"{src}/*.parquet"
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def check_one(con, out_dir, name, sql):
    """Returns (ok, lines_to_print, wall_sec); the first line carries the
    query's wall seconds so a slow tail is attributable per-query from
    any captured output (the bench keeps only a tail on failure)."""
    t0 = time.monotonic()
    try:
        gt = con.execute(
            f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')"
        ).arrow()
        got_cols = [f.name for f in gt.schema]
        got_rows = list(zip(*[c.to_pylist() for c in gt.columns])) \
            if gt.num_columns else []
        et = con.execute(sql).arrow()
        exp_cols = [f.name for f in et.schema]
        exp_rows = list(zip(*[c.to_pylist() for c in et.columns])) \
            if et.num_columns else []
    except Exception as e:
        dt = time.monotonic() - t0
        return False, [f"FAIL {name}: {e} [{dt:.2f}s]"], dt
    # Type-tag check: the driver's hasher distinguishes DuckDB HUGEINT
    # (arrow decimal128) from BIGINT — an oracle sum() over integers
    # must be cast to BIGINT or it fails the driver gate even when
    # values match (round-2 pipeline_corpus_prep lesson). i32 vs i64
    # is NOT flagged (driver passed knn_self_join's int rank).
    tytags = {f.name: str(f.type) for f in et.schema}
    wide = [c for c, t in tytags.items() if t.startswith("decimal128")]
    if wide:
        return False, [f"FAIL {name}: oracle returns HUGEINT column(s) "
                       f"{wide} — cast to BIGINT in the oracle SQL"], \
            time.monotonic() - t0
    gc, gr = canon(got_rows, got_cols)
    ec, er = canon(exp_rows, exp_cols)
    if gc != ec:
        return False, [f"FAIL {name}: columns spark={gc} oracle={ec}"], \
            time.monotonic() - t0
    if gr != er:
        diffs = [i for i, (a, b) in enumerate(zip(gr, er)) if a != b]
        lines = [f"FAIL {name}: rows spark={len(gr)} oracle={len(er)} "
                 f"first-diffs={diffs[:3]}"]
        for i in diffs[:3]:
            lines.append(f"   spark:  {gr[i]}")
            lines.append(f"   oracle: {er[i]}")
        if len(gr) != len(er):
            lines.append(f"   spark[0:2]={gr[:2]}")
            lines.append(f"   oracle[0:2]={er[:2]}")
        return False, lines, time.monotonic() - t0
    dt = time.monotonic() - t0
    return True, [f"PASS {name} ({len(gr)} rows) [{dt:.2f}s]"], dt


# ---- worker-side state (one DuckDB connection per pool process)
_wcon = None
_wout = None


def _winit(sf_dir, out_dir, threads, mem_bytes):
    global _wcon, _wout
    _wout = out_dir
    _wcon = connect(sf_dir, threads=threads, mem_bytes=mem_bytes)


def _wcheck(item):
    name, sql = item
    return name, check_one(_wcon, _wout, name, sql)


MAIN_TIER_SEC = 60.0  # cached POOL-lane cost above this ⇒ main lane
# a full-thread (main/serial lane) wall underestimates the 4-thread
# pooled wall by up to the thread ratio (~7x measured on
# dedup_semantic); a query at or above this full-thread wall would
# blow the pool budget and stays in the main tier
MAIN_TIER_FULLTHREAD_SEC = MAIN_TIER_SEC / 4
# ranking normalization for walls measured at full threads: the same
# conservative ~4x factor the eligibility threshold encodes, so a
# main-lane 20 s wall outranks a pool-lane 70 s one (ADVICE r15 — raw
# walls from different lanes are not comparable, the tier could pick
# the less pathological straggler)
LANE_NORM = {"pool": 1.0, "main": 4.0, "serial": 4.0}


def pool_equiv(lanes):
    """Pool-lane-equivalent wall from a per-lane cost dict (VERDICT r16
    #5): when a MEASURED pool wall exists it wins outright — the
    constant LANE_NORM ratio is a conservative guess the measurement
    replaces — otherwise the main/serial wall is normalized by the
    constant as before."""
    if "pool" in lanes:
        return lanes["pool"]
    for lane in ("main", "serial"):
        if lane in lanes:
            return lanes[lane] * LANE_NORM[lane]
    return 0.0


def pick_main_tier(names, costs):
    """The <=1 queries promoted to the full-thread main lane, from the
    cached per-lane walls {name: {lane: wall}}. Pure (unit-tested in
    test_oracle_tier.py).

    Eligibility reads the MOST AUTHORITATIVE lane available (r17): a
    measured pool wall is ground truth of pool-hostility and decides
    alone (>= MAIN_TIER_SEC); with no pool wall, a MAIN-lane
    full-thread wall uses the conservative ratio-adjusted budget
    (>= MAIN_TIER_FULLTHREAD_SEC); a SERIAL-lane wall is a crash-retry
    measurement — taken on a box right after a pool failure, for a
    query that proved nothing about pool-hostility — so it must clear
    the FULL pool budget at full threads (>= MAIN_TIER_SEC) before it
    can promote (VERDICT r15 #5). Ranking among eligibles is by
    pool-EQUIVALENT wall: the measured pool wall when the cache has
    seen one (the measured pair corrects the constant — VERDICT r16
    #5), the LANE_NORM-scaled wall otherwise."""
    def eligible(name):
        lanes = costs.get(name, {})
        if "pool" in lanes:
            return lanes["pool"] >= MAIN_TIER_SEC
        if "main" in lanes:
            return lanes["main"] >= MAIN_TIER_FULLTHREAD_SEC
        if "serial" in lanes:
            return lanes["serial"] >= MAIN_TIER_SEC
        return False
    ranked = sorted((n for n in names if n in costs and eligible(n)),
                    key=lambda n: -pool_equiv(costs[n]))
    return ranked[:1]


def sql_key(sql):
    """Content key of one oracle's SQL, stored beside its cached walls:
    a changed oracle (r17's dedup_semantic rewrite cut 449 s to 17 s)
    must not keep promoting itself on a stale wall — the walls are a
    property of (corpus, SQL), and the dump-dir cost cache outlives
    code generations."""
    return hashlib.md5(sql.encode()).hexdigest()[:10]


def load_costs(path, oracle=None):
    """Cost cache at r17: {name: {"k": sql_key, lane: wall, ...}} with
    every lane the query has been measured in under the CURRENT oracle
    SQL (latest wall per lane — keeping the PAIR lets tier ranking use
    a measured pool/main ratio instead of the LANE_NORM constant).

    Provenance rule: walls are a property of (corpus, SQL), and the
    dump-dir cache outlives code generations — so when `oracle` is
    given, an entry is trusted ONLY if its stored key matches the
    current SQL. Keyless entries (r15 [wall, lane] / legacy bare-float
    formats, read as single-lane dicts) are dropped the same way: a
    stale pool wall kept beside a fresh main wall would promote a
    since-fixed query forever, because main-tier queries never
    re-measure their pool lane. The cost of strictness is one
    catalog-order (LPT-less) compare per dump dir after an SQL change —
    correctness is identical either way. Without `oracle` (tests),
    keys are not checkable and keyed entries load as-is."""
    try:
        raw = json.load(open(path))
    except Exception:
        return {}
    out = {}
    for k, v in raw.items():
        try:
            if isinstance(v, (int, float)):
                lanes, key = {"pool": float(v)}, None
            elif isinstance(v, list):
                lanes, key = {str(v[1]): float(v[0])}, None
            elif isinstance(v, dict):
                lanes = {l: float(w) for l, w in v.items()
                         if l in LANE_NORM}
                key = v.get("k")
            else:
                continue
            if not lanes:
                continue
            if oracle is not None and (
                    k not in oracle or key is None
                    or sql_key(oracle[k]) != key):
                continue
            out[k] = lanes
        except Exception:
            continue
    return out


def total_ram():
    try:
        return os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (ValueError, OSError):
        return 16 << 30


def main(sf_dir, out_dir, names=None):
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    # Optional name filter (mirrors graft.Verify's third arg): lets the
    # exact driver-gate replica run on a certified SLICE — e.g. the
    # decade-scale 10x corpus, where guard-boundary / recall-gate
    # entries are exempt by documented contract (SURVEY §6.7).
    if names:
        oracle = {k: v for k, v in oracle.items() if k in names}
    items = sorted(oracle.items())
    cpus = os.cpu_count() or 4
    jobs = int(os.environ.get("ORACLE_JOBS", "0")) or min(8, max(1, cpus // 4))
    # previous complete run's per-query walls over this same dump dir:
    # order longest-first (LPT — the heavy tail must start at t=0, not
    # land on a drained pool as a straggler). Unknown names (catalog
    # additions since the cached run) go FIRST: pessimism costs a little
    # contention, optimism costs a multi-minute straggler.
    cost_path = f"{out_dir}/_oracle_costs.json"
    costs = load_costs(cost_path, oracle)
    if costs:
        items.sort(key=lambda it: (pool_equiv(costs[it[0]])
                                   if it[0] in costs else float("inf")),
                   reverse=True)
    # queries whose cached cost exceeds the pool's flat budget by enough
    # that ONE of them sets the whole run's wall (dedup_semantic's
    # within-cell pairwise sweep: 183 s at 4 threads vs ~25 s at 32) run
    # on the MAIN process instead — full threads, bounded memory (the
    # RAM share the pool is NOT using), exactly one at a time: the
    # r13-proven serial mode, overlapped with the pool. The threshold is
    # per-LANE (ADVICE r14): a full-thread wall from a previous main/
    # serial-lane run is NOT a pool wall — compared like-for-like, a
    # query fast at full threads but pool-hostile (dedup_semantic:
    # ~25 s vs ~183 s) stays in the main tier. First run (no cost
    # cache) ⇒ empty tier, pure pool.
    # Membership is capped at the SINGLE heaviest eligible query (r15):
    # the tier exists to cut THE pathological straggler (dedup_semantic
    # at 10x sf0.1: 183 s pooled vs 25 s full-thread), not to run the
    # bulk. An uncapped tier serialized 15 queries at the 100x corpus —
    # 1,239 s of main-lane chain while the pool idled, vs ~500 s fully
    # pooled — because at that corpus the heavy dedup oracles are NOT
    # thread-limited (dedup_semantic full-thread: 467 s, i.e. no faster
    # than its 413 s pooled wall). One main-lane query overlaps the
    # pool, so the worst case of a wrong pick is bounded by that query's
    # own wall, never by a serial chain. r16: eligibility, the serial-
    # lane (crash-retry) bar, and lane-normalized ranking live in
    # pick_main_tier (pure, unit-tested in tools/test_oracle_tier.py).
    tier_names = set(pick_main_tier([n for n, _ in items], costs))
    main_tier = [it for it in items if it[0] in tier_names]
    pool_items = [it for it in items if it[0] not in tier_names]

    walls = {}
    results = {}
    if jobs > 1 and len(items) > 1:
        # 60% of RAM split across workers; 4 threads each at the flat
        # budget — the pool's aggregate stays below the box even next
        # to a live Spark JVM
        mem_each = int(total_ram() * 0.6) // jobs
        from concurrent import futures
        try:
            with futures.ProcessPoolExecutor(
                    max_workers=jobs, initializer=_winit,
                    initargs=(sf_dir, out_dir, 4, mem_each)) as ex:
                futs = {ex.submit(_wcheck, (n, q)): n
                        for n, q in pool_items}
                if main_tier:
                    # full threads, but NOT the default ~80%-of-RAM cap:
                    # this connection runs concurrently with the pool's
                    # 60%-of-RAM aggregate and the live Spark JVM, and an
                    # OS OOM kill of a pool worker fails every pending
                    # future (ADVICE r14) — cap it at the share the pool
                    # is not using
                    mcon = connect(sf_dir,
                                   mem_bytes=int(total_ram() * 0.35))
                    for name, sql in main_tier:
                        ok, lines, sec = check_one(mcon, out_dir, name, sql)
                        results[name] = (ok, lines)
                        walls[name] = (sec, "main")
                        if ok:
                            print(lines[0], flush=True)
                for f in futures.as_completed(futs):
                    try:
                        name, (ok, lines, sec) = f.result()
                    except Exception as e:
                        results[futs[f]] = (False, [
                            f"FAIL {futs[f]}: worker error: {e}"])
                        continue
                    results[name] = (ok, lines)
                    walls[name] = (sec, "pool")
                    if ok:  # stream passes; failures wait for the retry
                        print(lines[0], flush=True)
        except Exception as e:
            print(f"[oracle] pool error, falling back serial: {e}",
                  flush=True)
    # Serial pass: everything the pool failed or never returned, on a
    # fresh default connection (no thread/memory caps) — deterministic
    # mismatches re-fail identically; worker-resource casualties recover.
    retry = [it for it in items
             if it[0] not in results or not results[it[0]][0]]
    if retry:
        # visible retry accounting: how much of the wall the serial tail
        # costs, and WHY each query is here (pool verdict), so a slow or
        # crashy pool is diagnosable from the streamed output alone
        print(f"[oracle] serial retry of {len(retry)}/{len(items)}: "
              + ", ".join(
                  f"{n} ({results[n][1][0][:90]})" if n in results
                  else f"{n} (never returned)" for n, _ in retry[:20]),
              flush=True)
        con = connect(sf_dir)
        for name, sql in retry:
            ok, lines, sec = check_one(con, out_dir, name, sql)
            results[name] = (ok, lines)
            walls[name] = (sec, "serial")
            for ln in lines:
                print(ln, flush=True)
    n_pass = sum(1 for ok, _ in results.values() if ok)
    n_fail = len(results) - n_pass
    # persist per-query walls for the NEXT run's LPT ordering — only on
    # a run that reached the end (a partial map would demote unmeasured
    # heavies to the back of the queue). r17 format: per-lane walls
    # MERGED with the (key-valid) cached ones, so a query that has seen
    # both a pool and a main wall keeps the measured pair, and every
    # entry is stamped with its oracle's sql_key — the provenance that
    # lets the next run trust it. The rewrite covers this run's (possibly
    # name-filtered) oracle set, same as the pre-r17 writer.
    try:
        merged = dict(load_costs(cost_path, oracle))
        for k, (sec, lane) in walls.items():
            merged.setdefault(k, {})[lane] = round(sec, 2)
        out = {k: {**lanes, "k": sql_key(oracle[k])}
               for k, lanes in merged.items() if k in oracle}
        with open(cost_path, "w") as fh:
            json.dump(out, fh)
    except Exception as e:
        print(f"[oracle] cost-cache write failed: {e}", flush=True)
    print(f"== {n_pass} pass, {n_fail} fail ==")
    return 1 if n_fail else 0


if __name__ == "__main__":
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    sys.exit(main(sys.argv[1], sys.argv[2], only))
