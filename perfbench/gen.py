"""Seeded input generators for the two workloads.

Everything the program under test receives is written here from the
seed: the batch pass orders, and the ingest script with its `.sb`
submissions and its store searches.  The same seed gives byte-identical
files.  The generators also return what the checks expect.
"""
import math
import os
import random

PAGE_SIZE = 20


def _d(x):
    """A double literal that the DSL (toDouble) and Python read the same."""
    return repr(float(x))


# ----------------------------------------------------------------- batch

# Oracle-green registry operators, grouped as the README explains.  Few
# operators, each run several times a pass: the cold warm-up of every
# operator is most of a run's set-up, and repeated runs steady the
# percentiles.
BATCH = [
    # agg_/join_/win_ over lineitem
    "agg_distinct_count", "join_semi", "win_lead_lag",
    # a row carrying graft_* kernels
    "sim_topk_cosine",
    # streaming: a stateful windowed count that runs its stream on every call
    "stream_tumbling_count",
    # one of the largest families by ledger time
    "stat_anova_oneway",
]
BATCH_PASSES = 8
RUNS_PER_PASS = 3


def batch_orders(seed):
    """Pass 0, the warm-up, runs every operator once in a seeded order;
    each timed pass runs RUNS_PER_PASS more seeded permutations back to
    back."""
    r = random.Random(f"batch-{seed}")

    def perms(n):
        out = []
        for _ in range(n):
            o = list(BATCH)
            r.shuffle(o)
            out += o
        return out
    return [perms(1)] + [perms(RUNS_PER_PASS) for _ in range(BATCH_PASSES)]


def write_batch(seed, d, fingerprints):
    with open(os.path.join(d, "batch.tsv"), "w") as f:
        for p, order in enumerate(batch_orders(seed)):
            for name in order:
                f.write(f"{p}\t{name}\n")
    if os.path.exists(fingerprints):
        with open(fingerprints) as src, open(os.path.join(d, "fingerprints.tsv"), "w") as dst:
            dst.write(src.read())
    return {"operators": len(BATCH)}


# ---------------------------------------------------------------- ingest

STORE_FIELDS = ["lat", "lon", "depth", "chl", "temp", "sal"]
RANGES = {"depth": (0.0, 6000.0), "chl": (0.0, 100.0), "temp": (-2.0, 40.0), "sal": (0.0, 45.0)}
GOOD = {"lat": (-80, 80, 3), "lon": (-180, 180, 3), "depth": (0, 5000, 1),
        "chl": (0.01, 20, 3), "temp": (-1.5, 35, 2), "sal": (20, 40, 2), "date": (20240101, 20241228, 0)}
BAD = {"depth": ["-5.0", "6500.0"], "chl": ["150.5"], "temp": ["45.25", "-3.5"], "sal": ["50.5"]}
DELIMS = {"comma": ",", "space": " ", "tab": "\t"}
MISSING = "-999"
# A timed pass is INGEST_ROUNDS rounds of twelve ops.
INGEST_PASSES = 4
INGEST_ROUNDS = 2
# The write mix of a round is an assumption, not a measurement: no record
# of the reference's submission traffic is available.  Assumed: new
# submissions outnumber corrections and withdrawals three to one, and
# maintenance (compact + expire) runs once per round, so every six writes,
# keeping KEEP versions.  README.md lists these as unverified.
SUBMITS_PER_ROUND = 3
KEEP = 6


def rule_names():
    """Validation rule names in the harness's order (Validation.Rule.name)."""
    return (["required:lat", "required:lon"] +
            [f"range:{f}[{lo},{hi}]" for f, (lo, hi) in RANGES.items()])


def _submission(r, dataset, n_records=None):
    """Text of one `.sb` file plus each record's stored values, its line
    length and the violations the validator must count."""
    fields = ["lat", "lon"] + r.sample(["depth", "chl", "temp", "sal"], r.randint(1, 4))
    if r.random() < 0.5:
        fields.append("date")
    r.shuffle(fields)
    delim = r.choice(sorted(DELIMS))
    n = n_records or r.randint(20, 200)
    p_missing = r.choice([0.0, 0.02, 0.05, 0.1])
    p_bad = r.choice([0.0, 0.01, 0.03])
    lines, recs = [], []
    viol = dict.fromkeys(rule_names(), 0)
    for _ in range(n):
        cells = []
        rec = dict.fromkeys(STORE_FIELDS)
        for f in fields:
            lo, hi, dec = GOOD[f]
            cell = f"{r.uniform(lo, hi):.{dec}f}"
            if f in BAD and r.random() < p_bad:
                cell = r.choice(BAD[f])
            if r.random() < p_missing:
                cell = MISSING
            cells.append(cell)
            if f in rec:
                rec[f] = None if cell == MISSING else float(cell)
        for f in ("lat", "lon"):
            if rec[f] is None:
                viol[f"required:{f}"] += 1
        for f, (lo, hi) in RANGES.items():
            if rec[f] is not None and not lo <= rec[f] <= hi:
                viol[f"range:{f}[{lo},{hi}]"] += 1
        line = DELIMS[delim].join(cells)
        lines.append(line)
        recs.append((rec, len(line.encode()) + 1))
    header = ["/begin_header", f"/investigators=bench_{dataset}", f"/fields={','.join(fields)}",
              f"/delimiter={delim}", f"/missing={MISSING}", "/end_header"]
    text = "\n".join(header + lines) + "\n"
    return text, fields, recs, viol


def triangle(r, lon, lat):
    """A triangle over the stored (lon, lat) plane around the point
    (lon, lat), with distinct vertex latitudes, so no edge is horizontal."""
    while True:
        size, turn = r.uniform(10, 40), r.uniform(0, 2 * math.pi)
        poly = [(round(lon + size * math.cos(turn + k * 2 * math.pi / 3 + r.uniform(-0.3, 0.3)), 3),
                 round(lat + size * math.sin(turn + k * 2 * math.pi / 3 + r.uniform(-0.3, 0.3)), 3))
                for k in range(3)]
        if len({y for _, y in poly}) == 3 and in_polygon(poly, lon, lat):
            return poly


def polygon_text(poly):
    return ";".join(f"{_d(x)},{_d(y)}" for x, y in poly)


def parse_polygon(text):
    return [tuple(float(v) for v in xy.split(",")) for xy in text.split(";")]


def in_polygon(poly, px, py):
    """GeoOps.inPolygon in the same double arithmetic: bounding box, then
    even-odd ray casting over the edges (i, i - 1)."""
    xs = [x for x, _ in poly]
    ys = [y for _, y in poly]
    if not (min(xs) <= px <= max(xs) and min(ys) <= py <= max(ys)):
        return False
    inside = False
    j = len(poly) - 1
    for i in range(len(poly)):
        if (ys[i] > py) != (ys[j] > py) and \
                px < (xs[j] - xs[i]) * (py - ys[i]) / (ys[j] - ys[i]) + xs[i]:
            inside = not inside
        j = i
    return inside


def ingest_script(seed):
    """Pass -1 is the warm-up round, on a store of its own; passes 0.. are
    timed.  A round alternates six writes with six reads.  Returns the op
    rows and, per file, its dataset, text, fields, records and injected
    violations."""
    r = random.Random(f"ingest-{seed}")
    files, ops = {}, []
    live = []
    current = {}  # dataset -> its records as the latest file wrote them
    n_sub = 0

    def new_file(dataset, n=None):
        name = f"f{len(files):04d}.sb"
        files[name] = (dataset,) + _submission(r, dataset, n)
        current[dataset] = [rec for rec, _ in files[name][3]]
        return name

    def search(anchors):
        """A store search: DSL text, a triangle over (lon, lat), a page.
        Users search where there is data: each search is built around a
        record of a dataset in `anchors`, so it has at least one hit."""
        recs = [(ds, rec) for ds in anchors for rec in current[ds]
                if rec["lat"] is not None and rec["lon"] is not None and
                any(rec[f] is not None for f in RANGES)]
        anchor_ds, rec = r.choice(recs)
        f1 = r.choice([f for f in RANGES if rec[f] is not None])
        f2 = r.choice([f for f in RANGES if f != f1])
        lo1, hi1, _ = GOOD[f1]
        width = (hi1 - lo1) * r.uniform(0.2, 0.5)
        a = math.floor((rec[f1] - width * r.uniform(0.1, 0.9)) * 10) / 10
        b = math.ceil((a + width) * 10) / 10
        lo2, hi2, _ = GOOD[f2]
        c = round(r.uniform(lo2, (lo2 + hi2) / 2), 1)
        e = round(c + (hi2 - lo2) * r.uniform(0.2, 0.5), 1)
        pre = f"sub_00{r.choice([d for d in range(10) if not anchor_ds.startswith(f'sub_00{d}')])}"
        dsl = f"({f1}:[{_d(a)} TO {_d(b)}] OR {f2}:[{_d(c)} TO {_d(e)}]) AND -dataset:{pre}*"
        return ("search", dsl, polygon_text(triangle(r, rec["lon"], rec["lat"])),
                str(r.choice([0, 0, 1])))

    def submit():
        nonlocal n_sub
        ds = f"sub_{n_sub:04d}"
        n_sub += 1
        live.append(ds)
        name = new_file(ds)
        return ("submit", name, ds, ",".join(files[name][2]))

    def resubmit():
        ds = r.choice(live)
        old = next(v for v in reversed(files.values()) if v[0] == ds)
        name = new_file(ds, len(old[3]))
        return ("resubmit", name, ds, ",".join(files[name][2]))

    def withdraw():
        ds = r.choice(live[:-1])
        live.remove(ds)
        return ("withdraw", "", ds, "")

    def round_(p, submits=SUBMITS_PER_ROUND):
        writes = [submit() for _ in range(submits)] + [
            resubmit(), withdraw(), ("maintain", str(KEEP), "", "")]
        # datasets stored, unchanged, at both searches of the round
        # (or, in the warm-up round, where none may be, any stored one)
        anchors = [ds for ds in live if ds != writes[submits][2]] or live
        reads = [("read", "", "", ""), ("read_at", repr(r.random()), "", ""),
                 search(anchors), ("read", "", "", ""),
                 ("read_at", repr(r.random()), "", ""), search(anchors)]
        for w, rd in zip(writes, reads):
            ops.append((p,) + w)
            ops.append((p,) + rd)

    round_(-1, submits=2)  # the warm-up: every kind of op, ten in all
    live.clear()  # the timed store starts empty; dataset names stay unique
    for p in range(INGEST_PASSES):
        for _ in range(INGEST_ROUNDS):
            round_(p)
    return ops, files


def write_ingest(seed, d):
    ops, files = ingest_script(seed)
    os.makedirs(os.path.join(d, "sb"), exist_ok=True)
    for name, (_, text, _, _, _) in files.items():
        with open(os.path.join(d, "sb", name), "w") as f:
            f.write(text)
    with open(os.path.join(d, "ingest.tsv"), "w") as f:
        for op in ops:
            f.write("\t".join(str(x) for x in op) + "\n")
    return {"files": len(files)}


def write_inputs(workload, seed, d, fingerprints):
    os.makedirs(d, exist_ok=True)
    if workload == "batch":
        return write_batch(seed, d, fingerprints)
    return write_ingest(seed, d)
