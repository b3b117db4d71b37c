"""Correctness checks for one benchmark pass, run after its timed region.

Each function takes plain data and returns a list of error strings (empty
when the check passes), so the tests in test_check.py can feed it
corrupted results. `check_pass` reads the evidence files the harness
writes into a pass directory:

  acks.tsv       one line per acknowledged message:
                 position, stream, version, message id, payload crc32
  log.tsv        the whole log read back after the run, same columns
  retries.tsv    stream, original version/position, retry version/position
  deliveries-*.tsv  "# kind<TAB>stream<TAB>after<TAB>upto" header, then the
                 positions (kind all) or versions (kind stream) delivered
  out-<stage>.jsonl  Spark's collected stage output, a JSON object per row
                 (corpus)
  oracle_sql.json  the DuckDB oracle SQL per stage (corpus)
"""
import glob
import json
import math
import os


def read_tsv(path):
    with open(path, encoding="utf-8") as f:
        return [tuple(line.rstrip("\n").split("\t")) for line in f if line.strip()]


def parse_msgs(rows):
    """(position, stream, version, message id, crc) with numeric fields."""
    return [(int(p), s, int(v), m, int(c)) for p, s, v, m, c in rows]


def check_log(acks, log):
    """Every acked message is in the log exactly once, at its acked
    position; positions are dense from 0 and monotonic; each stream's
    versions are contiguous from 0."""
    errors = []
    positions = [r[0] for r in log]
    if positions != sorted(positions):
        errors.append("log positions are not monotonic")
    seen = {}
    for r in log:
        if r[0] in seen:
            errors.append(f"position {r[0]} appears more than once in the log")
            break
        seen[r[0]] = r
    if positions and sorted(seen) != list(range(len(seen))):
        errors.append(f"log positions are not dense: {len(seen)} distinct, max {max(seen)}")
    next_version = {}
    for r in sorted(seen.values()):
        want = next_version.get(r[1], 0)
        if r[2] != want:
            errors.append(f"stream {r[1]} version {r[2]} at position {r[0]}, expected {want}")
            break
        next_version[r[1]] = want + 1
    ids = {}
    for r in log:
        ids[r[3]] = ids.get(r[3], 0) + 1
    dup = [m for m, n in ids.items() if n > 1]
    if dup:
        errors.append(f"{len(dup)} message ids appear more than once in the log, e.g. {dup[0]}")
    missing = wrong = 0
    for a in acks:
        got = seen.get(a[0])
        if got is None:
            missing += 1
        elif got != a:
            wrong += 1
            if wrong == 1:
                errors.append(f"acked {a} but the log holds {got}")
    if missing:
        errors.append(f"{missing} acked messages are missing from the log")
    if wrong > 1:
        errors.append(f"{wrong} acked messages differ from the log")
    if len(set(a[0] for a in acks)) != len(acks):
        errors.append("two acks share one position")
    unacked = len(seen) - len(acks)
    if unacked != 0:
        errors.append(f"the log holds {len(seen)} messages but {len(acks)} were acked")
    return errors


def check_retries(retries):
    """An idempotent retry returns the original append's result."""
    bad = [r for r in retries if (r[1], r[2]) != (r[3], r[4])]
    return [f"{len(bad)} retries did not return the original result, e.g. {bad[0]}"] if bad else []


def check_deliveries(header, delivered, log):
    """A subscription received every message in (after, upto] exactly
    once, in order. `header` is (kind, stream, after, upto); `delivered`
    the positions (kind all) or versions (kind stream) in delivery order."""
    kind, stream, after, upto = header[0], header[1], int(header[2]), int(header[3])
    if kind == "all":
        want = [r[0] for r in sorted(log) if after < r[0] <= upto]
    else:
        want = [r[2] for r in sorted(log) if r[1] == stream and after < r[2] <= upto]
    if delivered == want:
        return []
    name = f"{kind} subscription{' to ' + stream if stream else ''}"
    if len(set(delivered)) != len(delivered):
        return [f"{name} delivered a message twice"]
    if sorted(delivered) != delivered:
        return [f"{name} delivered out of order"]
    lost = sorted(set(want) - set(delivered))
    extra = sorted(set(delivered) - set(want))
    return [f"{name} dropped {len(lost)} and invented {len(extra)} of {len(want)} deliveries"
            + (f", first dropped {lost[0]}" if lost else "")]


def _canon(v):
    if isinstance(v, float) and math.isnan(v):
        return ("nan",)
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, bool) or v is None or isinstance(v, (str, int)):
        return v
    if isinstance(v, float):
        return int(v) if v.is_integer() else v
    return str(v)


def check_oracle(name, mine_cols, mine_rows, oracle_cols, oracle_rows):
    """Spark's stage output equals the DuckDB oracle's: same column names,
    row count and values, with rows compared as sorted multisets."""
    if sorted(mine_cols) != sorted(oracle_cols):
        return [f"{name}: columns {sorted(mine_cols)} vs oracle {sorted(oracle_cols)}"]
    order = sorted(mine_cols)
    def norm(cols, rows):
        idx = [cols.index(c) for c in order]
        return sorted((tuple(_canon(r[i]) for i in idx) for r in rows), key=repr)
    a, b = norm(mine_cols, mine_rows), norm(oracle_cols, oracle_rows)
    if len(a) != len(b):
        return [f"{name}: {len(a)} rows vs oracle {len(b)}"]
    for i, (x, y) in enumerate(zip(a, b)):
        if x != y:
            return [f"{name}: row {i} differs from the oracle: {x!r} vs {y!r}"]
    return []


def check_lsh_pairs(name, mine_cols, mine_rows, oracle_cols, oracle_rows):
    """MinHash-LSH near-duplicate pairs against the exact-Jaccard oracle;
    returns (errors, pairs missed). The pipeline verifies each candidate
    exactly, so every pair it returns is an oracle pair with the oracle's
    Jaccard. It finds only pairs whose 32 MinHashes agree in one of 8
    bands of 4: always at Jaccard 1 (identical shingle sets), with chance
    1 - (1 - J^4)^8 below it (0.975 at J = 0.78). So a missed pair is an
    error only at Jaccard 1."""
    if sorted(mine_cols) != sorted(oracle_cols) or not {"id_a", "id_b", "jaccard"} <= set(mine_cols):
        return [f"{name}: columns {sorted(mine_cols)} vs oracle {sorted(oracle_cols)}"], 0
    def keyed(cols, rows):
        a, b, j = cols.index("id_a"), cols.index("id_b"), cols.index("jaccard")
        return {(_canon(r[a]), _canon(r[b])): _canon(r[j]) for r in rows}
    mine, oracle = keyed(mine_cols, mine_rows), keyed(oracle_cols, oracle_rows)
    errors = []
    if len(mine) != len(mine_rows):
        errors.append(f"{name}: a pair appears more than once")
    for pair, j in sorted(mine.items(), key=repr):
        if oracle.get(pair) != j:
            errors.append(f"{name}: pair {pair} with Jaccard {j!r}, the oracle has {oracle.get(pair)!r}")
            break
    missed = {pair: j for pair, j in oracle.items() if pair not in mine}
    whole = sorted(pair for pair, j in missed.items() if j == 1)
    if whole:
        errors.append(f"{name}: missed {len(whole)} pairs with identical shingle sets, e.g. {whole[0]}")
    return errors, len(missed)


def check_metrics(metrics, spec):
    """Every metric in `spec` is reported, with its unit and a finite
    number."""
    errors = []
    for m in spec:
        got = metrics.get(m["name"])
        if not isinstance(got, dict) or "value" not in got or "unit" not in got:
            errors.append(f"metric {m['name']} is missing")
        elif got["unit"] != m["unit"]:
            errors.append(f"metric {m['name']} has unit {got['unit']!r}, expected {m['unit']!r}")
        elif not isinstance(got["value"], (int, float)) or not math.isfinite(got["value"]):
            errors.append(f"metric {m['name']} is not a finite number: {got['value']!r}")
    return errors


INTERVAL_COUNT_SQL = """
SELECT count(*) FROM events a JOIN events b ON a.user_id = b.user_id
WHERE a.event_type = 'view' AND b.event_type = 'purchase'
  AND epoch_us(b.ts) > epoch_us(a.ts)
  AND (epoch_us(b.ts) - epoch_us(a.ts)) * 1000 <= 600000000000
"""


def check_corpus(pass_dir, data_dir, counts):
    """Stage outputs match the DuckDB oracle (`minhash_near_dups` as
    `check_lsh_pairs` says) and the streaming replay's row count matches
    the batch interval join."""
    import duckdb
    con = duckdb.connect()
    for t in ("documents", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    with open(os.path.join(pass_dir, "oracle_sql.json"), encoding="utf-8") as f:
        oracle = json.load(f)
    errors = []
    for name, sql in sorted(oracle.items()):
        path = os.path.join(pass_dir, f"out-{name}.jsonl")
        if not os.path.exists(path):
            errors.append(f"{name}: no Spark output written")
            continue
        theirs = con.execute(sql)
        cols = [d[0] for d in theirs.description]
        with open(path, encoding="utf-8") as f:
            mine = [json.loads(line) for line in f if line.strip()]
        mine_cols = list(mine[0]) if mine else cols
        mine_rows = [tuple(r.get(c) for c in mine_cols) for r in mine]
        if name == "minhash_near_dups":
            errs, counts["minhash_missed_pairs"] = check_lsh_pairs(name, mine_cols, mine_rows, cols,
                                                                   theirs.fetchall())
            errors += errs
        else:
            errors += check_oracle(name, mine_cols, mine_rows, cols, theirs.fetchall())
    want = con.execute(INTERVAL_COUNT_SQL).fetchone()[0]
    if counts.get("replay_rows") != want:
        errors.append(f"interval replay emitted {counts.get('replay_rows')} rows, the batch join {want}")
    return errors


def check_store(pass_dir, counts):
    log = parse_msgs(read_tsv(os.path.join(pass_dir, "log.tsv")))
    acks = parse_msgs(read_tsv(os.path.join(pass_dir, "acks.tsv")))
    errors = check_log(acks, log)
    retries_path = os.path.join(pass_dir, "retries.tsv")
    if os.path.exists(retries_path):
        errors += check_retries(read_tsv(retries_path))
    for path in sorted(glob.glob(os.path.join(pass_dir, "deliveries-*.tsv"))):
        with open(path, encoding="utf-8") as f:
            header = tuple(f.readline().lstrip("# ").rstrip("\n").split("\t"))
            delivered = [int(x) for x in f if x.strip()]
        errors += check_deliveries(header, delivered, log)
    if counts.get("ryw_violations", 0):
        errors.append(f"{counts['ryw_violations']} http reads missed the client's own write")
    return errors


def check_pass(workload, pass_json, data_dir):
    if workload == "corpus":
        return check_corpus(pass_json["dir"], data_dir, pass_json["counts"])
    return check_store(pass_json["dir"], pass_json["counts"])
