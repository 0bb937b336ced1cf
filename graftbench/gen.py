"""Seeded inputs for the benchmark.

The data is the engine's own test fixture, committed unchanged under
fixture/ (TPC-H-like tables plus events, documents and embeddings,
generated once with seed 42; see TESTDATA.md). The seed never changes a
row: it chooses only the layout of the inputs.

  pump_bulk     the ten scale-0.1 tables (893,030 rows), each split into
                a seed-chosen number of part files (1..2*cores), rows in
                their original order;
  query_corpus  the scale-0.01 tables as they are; the seed chooses the
                order of the rows of the workload (in the JVM).

Split sets are cached read-only under <cache>/<workload>-<seed>/.
"""
import os
import shutil
import stat

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE = {"pump_bulk": os.path.join(HERE, "fixture", "sf0.1"),
           "query_corpus": os.path.join(HERE, "fixture", "sf0.01")}


def _write_split(table, path, parts):
    """One table as a directory of `parts` part files, rows in order."""
    os.makedirs(path)
    bounds = np.linspace(0, table.num_rows, parts + 1).astype(int)
    for i in range(parts):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def generate(workload, seed, dest, cores):
    rng = np.random.default_rng([seed, sum(map(ord, workload))])
    src = FIXTURE[workload]
    for f in sorted(os.listdir(src)):
        parts = int(rng.integers(1, 2 * cores + 1))
        _write_split(pq.read_table(os.path.join(src, f)), os.path.join(dest, f), parts)


def cached(cache, workload, seed, cores):
    """Path of the read-only input set for (workload, seed). The query
    workload reads the fixture in place; a pump set is split on first
    use, under a temporary name renamed into place, so a half-written
    set never becomes visible."""
    if workload != "pump_bulk":
        return FIXTURE[workload]
    dest = os.path.join(cache, f"{workload}-{seed}")
    if os.path.isdir(dest):
        return dest
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    generate(workload, seed, tmp, cores)
    for root, dirs, files in os.walk(tmp):
        for f in files:
            os.chmod(os.path.join(root, f), stat.S_IRUSR | stat.S_IRGRP)
    os.rename(tmp, dest)
    return dest
