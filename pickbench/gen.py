"""Seeded input generators for the Pickaxe benchmark.

Every generator is a pure function of its arguments: the same seed gives
byte-identical files. Nothing here calls the program; the JVM side reads
the files written by `write_inputs`.
"""
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Workload sizes (recorded in BENCHMARK.json's `why` lines).
EXPAND_BATCHES = 40      # more batches than a run can use: no input repeats
EXPAND_BATCH_SIZE = 16   # starting compounds per pass
REQUESTS_PER_BATCH = 2   # peak-list requests per pass
PEAKS_PER_REQUEST = 20
HIT_SHARE = 0.75         # the other peaks are decoy masses
SPECTRA = 256            # stored MS2 spectra, assigned to compounds mod SPECTRA
SPECTRUM_PEAKS = 8
ADDUCTS = ["[M+H]+", "[M+Na]+", "[M-H]-"]  # as named in scala/Workloads.scala
TABLE_SCALE = 0.01       # operator_mix tables: rows relative to TPC-H sf1


def profiled_smiles(rng, length, end, n_oh, extra):
    """A chain of `length` carbons ending in `end` ("CO" alcohol or
    "C(=O)O" acid) with `n_oh` OH substituents and, where a position is
    left, one `extra` ("N" or "C") substituent; the seed picks positions."""
    free = list(range(length - 1))
    subs = {}
    for pos in rng.sample(free, min(n_oh, len(free))):
        subs[pos] = "O"
    rest = [p for p in free if p not in subs and p > 0]
    if rest:
        subs[rng.choice(rest)] = extra
    atoms = ["C" + (f"({subs[i]})" if i in subs else "")
             for i in range(length - 1)]
    return "".join(atoms) + end


def profiled_batch(rng, size):
    """`size` starting SMILES with fixed profiles: chain length 3-8 x end
    group x one or two OH substituents (24 profiles, so up to 24 distinct
    compounds); the seed picks the substituent positions and the NH2 / CH3
    choice."""
    return [profiled_smiles(rng, 3 + j % 6, ("CO", "C(=O)O")[(j // 6) % 2],
                            1 + (j // 12) % 2, rng.choice(["N", "C"]))
            for j in range(size)]


def starting_batches(seed, batches=EXPAND_BATCHES, size=EXPAND_BATCH_SIZE):
    """`batches` lists of `size` starting SMILES. Every list holds the same
    profiles, so every pass does about the same work."""
    rng = random.Random(f"expand_query/batches/{seed}")
    return [profiled_batch(rng, size) for _ in range(batches)]


def spectra(seed, n=SPECTRA, peaks=SPECTRUM_PEAKS):
    """Stored MS2 spectra: `peaks` (m/z, intensity) pairs each."""
    rng = random.Random(f"expand_query/spectra/{seed}")
    return [sorted((round(rng.uniform(50.0, 500.0), 4),
                    round(rng.uniform(1.0, 100.0), 2))
                   for _ in range(peaks))
            for _ in range(n)]


def requests(seed, n=EXPAND_BATCHES * REQUESTS_PER_BATCH,
             peaks=PEAKS_PER_REQUEST):
    """Peak-list requests. A hit peak names a catalog position as a share
    u in [0, 1) (the JVM side resolves it against the sorted catalog), an
    adduct and an m/z jitter inside the search tolerance; a decoy names a
    neutral mass. Each peak also carries the MS2 query spectrum recipe:
    whose stored spectrum it perturbs (hits: -1, the target's own; decoys:
    a catalog position) and per-fragment intensity factors."""
    rng = random.Random(f"expand_query/requests/{seed}")
    rows = []
    for r in range(n):
        for p in range(peaks):
            adduct = rng.choice(ADDUCTS)
            factors = ",".join(f"{rng.uniform(0.8, 1.2):.4f}"
                               for _ in range(SPECTRUM_PEAKS))
            if rng.random() < HIT_SHARE:
                rows.append((r, f"r{r}p{p}", "hit", f"{rng.random():.6f}",
                             adduct, f"{rng.uniform(-4e-4, 4e-4):.6f}",
                             -1, factors))
            else:
                rows.append((r, f"r{r}p{p}", "decoy",
                             f"{rng.uniform(60.0, 400.0):.5f}", adduct,
                             "0.000000", rng.randrange(SPECTRA), factors))
    return rows


def tables(seed, scale=TABLE_SCALE):
    """The tables the operator_mix queries read (lineitem, orders,
    documents), with the column names and types of the repository's
    synthetic test data."""
    rng = np.random.default_rng(hash_seed(f"operator_mix/{seed}"))
    n_cust, n_supp, n_part = int(150000 * scale), int(10000 * scale), \
        int(200000 * scale)
    n_ord, n_li, n_doc = int(1500000 * scale), int(6000000 * scale), \
        int(50000 * scale)
    ts0 = np.datetime64("1995-01-01", "us")
    day = np.timedelta64(86400 * 1000000, "us")
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                      "5-LOW"])
    orders = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": ts0 + rng.integers(0, 2404, n_ord) * day,
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)]})
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    pk = rng.integers(0, n_part, n_li).astype(np.int64)
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": pk,
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900.0 + (pk % 1000) * 0.1), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": ts0 + rng.integers(1, 2500, n_li) * day})
    words = ["key", "agg", "row", "scan", "slow", "fast", "table", "value",
             "part", "hash", "a", "merge", "batch", "spark", "the", "line",
             "sort", "window", "join", "index"]
    texts = [" ".join(rng.choice(words, rng.integers(8, 90)))
             for _ in range(n_doc)]
    documents = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "en", "en", "zh", "es", "de", "fr"])[
            rng.integers(0, 7, n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    return {"orders": orders, "lineitem": lineitem, "documents": documents}


def hash_seed(text):
    """A stable 63-bit integer from a string (Python's hash() is salted)."""
    import hashlib
    return int.from_bytes(hashlib.sha256(text.encode()).digest()[:8],
                          "big") >> 1


def write_inputs(workload, seed, out_dir):
    """Write the inputs of `workload` for `seed` into `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)

    def lines(name, rows):
        with open(os.path.join(out_dir, name), "w") as f:
            for r in rows:
                f.write("\t".join(str(x) for x in r) + "\n")

    if workload == "expand_query":
        lines("seeds.tsv", [(b, s) for b, batch in
                            enumerate(starting_batches(seed)) for s in batch])
        lines("spectra.tsv", [(i, ",".join(f"{mz}:{it}" for mz, it in sp))
                              for i, sp in enumerate(spectra(seed))])
        lines("requests.tsv", requests(seed))
    elif workload == "operator_mix":
        tdir = os.path.join(out_dir, "tables")
        os.makedirs(tdir, exist_ok=True)
        for name, tab in tables(seed).items():
            pq.write_table(tab, os.path.join(tdir, f"{name}.parquet"),
                           compression="snappy")
