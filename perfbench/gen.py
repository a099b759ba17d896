"""Seeded input generators for the benchmark.

Everything the program sees is made here from `--seed`: the CDM origin
table, the late origin validate reads, the operator fixture tables and
the operator sample. The same seed gives byte-identical files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

CDM_TABLE = "cdm_origin"
# guardrail threshold in the generated config (KB) and the seeded share
# of rows whose text cell exceeds it
GUARDRAIL_KB = 1
BIG_TEXT_FRAC = 0.002
WHERE_MIN = 5.0
WHERE = f"v_double >= {WHERE_MIN}"
MISSING_FRAC = 0.01
MISMATCH_FRAC = 0.01
# a MISMATCH row has one of these origin columns changed (`_mutate`)
MUTATED = ("v_int", "v_double", "v_text")

def expected_sql(with_map):
    """The migrated target, in plain SQL over a view `origin`: the
    generator's own statement of the config (filter, rename, skip,
    writetime)."""
    return ("SELECT pk_id, ck, v_int AS qty, v_double, v_text, " + ("attrs, " if with_map else "")
            + "tags, wt_v_int, wt_v_text, greatest(wt_v_int, wt_v_text) AS row_writetime "
            f"FROM origin WHERE {WHERE}")


_STREAMS = {"cdm": 1, "late": 2, "sample": 3, "order": 4, "region": 10, "nation": 11,
            "customer": 12, "supplier": 13, "part": 14, "orders": 15,
            "lineitem": 16, "events": 17, "documents": 18, "embeddings": 19}


def rng(seed, stream):
    return np.random.default_rng(np.random.SeedSequence([seed, _STREAMS[stream]]))


def _strings(r, lengths, alphabet=b"abcdefghijklmnopqrstuvwxyz"):
    """Random strings of the given lengths as one arrow string array."""
    offsets = np.zeros(len(lengths) + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    codes = np.frombuffer(alphabet, dtype=np.uint8)
    data = codes[r.integers(0, len(codes), size=int(offsets[-1]))]
    return pa.Array.from_buffers(pa.string(), len(lengths),
                                 [None, pa.py_buffer(offsets), pa.py_buffer(data.tobytes())])


def _write(table, path, row_groups=1):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=max(1, -(-table.num_rows // row_groups)))


def _cdm_rows(r, i, with_map):
    """Rows `i` (row numbers) of the CDM-shaped table, and the mask of
    rows whose text cell exceeds the guardrail threshold."""
    rows = len(i)
    big = r.random(rows) < BIG_TEXT_FRAC
    text_len = np.where(big, r.integers(GUARDRAIL_KB * 1024 + 64, GUARDRAIL_KB * 1024 + 400, rows),
                        r.integers(8, 48, rows)).astype(np.int32)
    n_attrs = r.integers(0, 5, rows)
    attr_off = np.zeros(rows + 1, dtype=np.int32)
    np.cumsum(n_attrs, out=attr_off[1:])
    keys = np.array(list("abcdef"))
    start = np.repeat(r.integers(0, 6, rows), n_attrs)
    pos = np.arange(attr_off[-1]) - np.repeat(attr_off[:-1], n_attrs)
    attrs = pa.MapArray.from_arrays(
        pa.array(attr_off), pa.array(keys[(start + pos) % 6]),
        pa.array(r.integers(0, 1000, int(attr_off[-1]), dtype=np.int32)))
    n_tags = r.integers(0, 6, rows)
    tag_off = np.zeros(rows + 1, dtype=np.int32)
    np.cumsum(n_tags, out=tag_off[1:])
    tags = pa.ListArray.from_arrays(
        pa.array(tag_off), pa.array(r.integers(0, 100, int(tag_off[-1]), dtype=np.int32)))
    wt0 = 1_700_000_000_000_000
    table = pa.table({
        "pk_id": i // 4,
        "ck": (i % 4).astype(np.int32),
        "v_int": r.integers(0, 1_000_000, rows, dtype=np.int32),
        "v_double": r.uniform(0.0, 100.0, rows),
        "v_text": _strings(r, text_len),
        "note": _strings(r, r.integers(4, 16, rows)),
        "attrs": attrs,
        "tags": tags,
        "wt_v_int": wt0 + r.integers(0, 30 * 86_400_000_000, rows),
        "wt_v_text": wt0 + r.integers(0, 30 * 86_400_000_000, rows),
    })
    return (table if with_map else table.drop(["attrs"])), big


def cdm_origin(seed, rows, work, with_map=True):
    """The CDM-shaped origin table: composite PK (pk_id partition key, ck
    clustering key), int/double/text columns, a map<text,int> (unless
    `with_map` is false; the other columns are the same either way), a
    list<int> and writetime companions. Returns the run's metadata."""
    table, big = _cdm_rows(rng(seed, "cdm"), np.arange(rows, dtype=np.int64), with_map)
    path = os.path.join(work, "origin", f"{CDM_TABLE}.parquet")
    # several row groups so the scan splits across the local cores
    _write(table, path, row_groups=8)
    return {"table": CDM_TABLE, "rows": rows, "bytes": os.path.getsize(path),
            "guardrail_violations": int(big.sum()), "expected_sql": expected_sql(with_map)}


def late_origin(seed, work):
    """The origin as it stands after the migration: writes that landed
    late. A seeded MISSING_FRAC of rows is new (new keys, inside the
    where-filter), so the target misses them; a seeded MISMATCH_FRAC of
    the rows inside the filter has one of the MUTATED columns changed
    (never moving the row out of the filter), so the target mismatches
    them. Returns the injected counts."""
    r = rng(seed, "late")
    origin = pq.read_table(os.path.join(work, "origin", f"{CDM_TABLE}.parquet"))
    rows = origin.num_rows
    inside = np.flatnonzero(origin.column("v_double").to_numpy() >= WHERE_MIN)
    n_missing, n_mismatch = int(rows * MISSING_FRAC), int(rows * MISMATCH_FRAC)
    changed = r.choice(inside, n_mismatch, replace=False)
    which = np.array(MUTATED)[r.integers(0, len(MUTATED), n_mismatch)]
    late = origin
    for c in MUTATED:
        mask = np.zeros(rows, dtype=bool)
        mask[changed[which == c]] = True
        late = late.set_column(late.schema.get_field_index(c), c, pc.if_else(
            pa.array(mask), _mutate(c, origin.column(c)), origin.column(c)))
    extra, _ = _cdm_rows(r, np.arange(rows, rows + n_missing, dtype=np.int64),
                         "attrs" in origin.column_names)
    extra = extra.set_column(extra.schema.get_field_index("v_double"), "v_double",
                             pa.array(r.uniform(WHERE_MIN, 100.0, n_missing)))
    late = pa.concat_tables([late, extra.cast(late.schema)])
    _write(late, os.path.join(work, "late", f"{CDM_TABLE}.parquet"), row_groups=8)
    return {"MISSING": n_missing, "MISMATCH": n_mismatch}


def _mutate(c, values):
    if c == "v_int":
        return pc.add(values, pa.scalar(1, pa.int32()))
    if c == "v_double":
        return pc.add(values, 0.5)
    return pc.binary_join_element_wise(values, pa.scalar("~"), "")


def cdm_config(work, name, origin, validate):
    """`name`.properties: the job config over origin dir `origin` and the
    run's target dir; `validate` turns both autocorrect flags on."""
    lines = [
        f"spark.cdm.connect.origin.path={os.path.join(work, origin)}",
        f"spark.cdm.connect.target.path={os.path.join(work, 'target')}",
        f"spark.cdm.schema.origin.keyspaceTable={CDM_TABLE}",
        "spark.cdm.schema.origin.primaryKey=pk_id,ck",
        "spark.cdm.schema.origin.column.names.to.target=v_int:qty",
        "spark.cdm.schema.origin.column.skip=note",
        "spark.cdm.schema.origin.column.writetime.names=wt_v_int,wt_v_text",
        f"spark.cdm.filter.cassandra.whereCondition={WHERE}",
        f"spark.cdm.feature.guardrail.colSizeInKB={GUARDRAIL_KB}",
    ]
    if validate:
        lines += ["spark.cdm.autocorrect.missing=true", "spark.cdm.autocorrect.mismatch=true"]
    with open(os.path.join(work, f"{name}.properties"), "w") as f:
        f.write("\n".join(lines) + "\n")


def write_meta(work, meta):
    """meta.properties for the JVM side (no escapes needed: one line each)."""
    with open(os.path.join(work, "meta.properties"), "w") as f:
        for k, v in meta.items():
            f.write(f"{k}={v}\n")


# --- operator fixture: the TPC-H subset, events, documents, embeddings ---

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.44, 0.14, 0.14, 0.14]
WORDS = ("a agg batch big column customer data dup fast filter group hash join key line merge "
         "order part query row scan slow small sort spark stream table the value vector window").split()
DAY_US = 86_400_000_000


def _days(r, n, first, last):
    lo, hi = np.datetime64(first, "D"), np.datetime64(last, "D")
    d = lo + r.integers(0, int((hi - lo).astype(int)) + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(r, lo, hi, n):
    return np.round(r.uniform(lo, hi, n), 2)


def fixture(seed, sf, out, text_rows=150):
    """The operator fixture at scale factor `sf` (rows scale like the
    TPC-H subset); documents and embeddings have `text_rows` rows."""
    n_cust, n_supp, n_part = max(15, int(150_000 * sf)), max(5, int(10_000 * sf)), max(20, int(200_000 * sf))
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{k}" for k in range(25)],
                            "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32())})
    r = rng(seed, "customer")
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)]})
    r = rng(seed, "supplier")
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp)})
    r = rng(seed, "part")
    k = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": k,
        "p_name": np.char.add(np.char.add(np.array(PART_ADJ)[r.integers(0, 8, n_part)], " "),
                              np.array(PART_NOUN)[r.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[r.integers(0, 6, n_part)],
        "p_size": r.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (k % 1000) / 10.0, 1)})
    r = rng(seed, "orders")
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(r, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)]})
    r = rng(seed, "lineitem")
    t["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": r.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": r.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": r.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105_000.0, n_line),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
        "l_shipdate": _days(r, n_line, "1995-01-02", "2001-11-04")})
    r = rng(seed, "events")
    gaps = r.integers(1_000_000, 2 * 30 * DAY_US // max(1, n_ev), n_ev)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": r.integers(0, max(10, int(15_000 * sf)), n_ev, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, np.round(r.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {v}}}' for v in r.integers(0, 100, n_ev)]})
    t["documents"] = _documents(seed, text_rows)
    t["embeddings"] = _embeddings(seed, text_rows)
    for name, table in t.items():
        _write(table, os.path.join(out, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}


def _documents(seed, n):
    """Word-soup corpus over a 31-word vocabulary."""
    r = rng(seed, "documents")
    words = np.array(WORDS)
    texts = [" ".join(words[r.integers(0, len(words), int(r.integers(8, 100)))]) for _ in range(n)]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[r.choice(5, n, p=LANG_P)],
        "source": [f"src{d % 20}" for d in range(n)],
        "n_chars": r.integers(48, 554, n, dtype=np.int64)})


def _embeddings(seed, n, dim=64, labels=10):
    """Random unit vectors; the label is independent of the vector."""
    r = rng(seed, "embeddings")
    v = r.normal(size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": r.integers(0, labels, n, dtype=np.int32)})


# queries in the operator sample; each runs twice in a run
SAMPLE_SIZE = 16
# The sample's queries are drawn once, with this seed, so that every run
# times the same queries: drawn with the run's seed, the medians followed
# the draw (over ten seeds, the queries' own median cost spread by 0.21 of
# its median in task CPU and 0.13 in wall time, against bounds of 0.25).
# The run's seed orders the ops and makes the fixture.
SAMPLE_SEED = 0


def operator_sample(seed, families, costs):
    """The operator sample (`sample_queries` with SAMPLE_SEED), in an
    order drawn with `seed`."""
    sample = sample_queries(SAMPLE_SEED, families, costs)
    return [sample[j] for j in rng(seed, "order").permutation(len(sample))]


def sample_queries(seed, families, costs=None, size=SAMPLE_SIZE):
    """Cost-stratified sample of the registry that covers every family.

    All names, ranked by their prior cost (`costs`, seconds; unknown
    names rank at the median), are cut into `size` contiguous strata and
    one name is drawn from each, so every seed's sample has about the
    same cost profile. First every family is given a stratum that holds
    one of its names (a seeded matching, so a family always gets one),
    and its pick there is drawn from its own names; the other strata
    draw from all their names. The family picks come first, in seeded
    order, then the rest."""
    r = rng(seed, "sample")
    costs = costs or {}
    default = float(np.median(list(costs.values()))) if costs else 0.0
    family_of = {n: f for f, names in families.items() for n in names}
    ranked = sorted(family_of, key=lambda n: (costs.get(n, default), n))
    bounds = np.linspace(0, len(ranked), size + 1).astype(int)
    strata = [ranked[bounds[j]:bounds[j + 1]] for j in range(size)]
    fams = sorted(families)
    fams = [fams[j] for j in r.permutation(len(fams))]
    options = {f: [j for j in r.permutation(size) if any(family_of[n] == f for n in strata[j])]
               for f in fams}
    owner = {}  # stratum -> family

    def assign(f, seen):
        for j in options[f]:
            if j not in seen:
                seen.add(j)
                if j not in owner or assign(owner[j], seen):
                    owner[j] = f
                    return True
        return False

    for f in fams:
        if not assign(f, set()):
            raise ValueError(f"no stratum left for family {f}; sample size {size} is too small")

    def draw(names):
        return names[int(r.integers(len(names)))]

    first = {owner[j]: draw([n for n in strata[j] if family_of[n] == owner[j]]) for j in sorted(owner)}
    rest = [draw(strata[j]) for j in range(size) if j not in owner]
    return [first[f] for f in fams] + [rest[j] for j in r.permutation(len(rest))]
