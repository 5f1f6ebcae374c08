"""Seeded namenode state: the four nn_state tables as numpy columns.

The generator plants a directory tree (``/uXX/dXXX/fXXXXX``), 1-3
blocks per file with up to three replicas each over a fixed set of
datanodes, a few dead datanodes, stale-generation-stamp (corrupt)
replicas, under-replicated blocks and open files with leases, some of
them expired.  The same arrays are the benchmark's model of the state:
expected read results are computed from them in numpy, never through
the engine under test.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIR_LENGTH = -1
BLOCK_BYTES = 64 << 20
DEAD_AGE_MS = 24 * 3600_000  # dead datanodes last heartbeat a day ago
LEASE_HARD_LIMIT_MS = 3600_000


@dataclass
class Shape:
    top_dirs: int
    sub_dirs: int  # per top dir
    files: int  # per sub dir
    datanodes: int
    dead_datanodes: int


@dataclass
class NNState:
    now_ms: int
    # file table (index = row, not id)
    f_id: np.ndarray
    f_parent: np.ndarray
    f_name: np.ndarray  # object array of str
    f_length: np.ndarray
    f_repl: np.ndarray
    f_holder: np.ndarray  # object array, None = complete
    # block table, one row per replica
    b_id: np.ndarray
    b_dn: np.ndarray
    b_length: np.ndarray
    b_gs: np.ndarray
    b_file: np.ndarray
    b_index: np.ndarray
    # datanode table
    d_id: np.ndarray
    d_last: np.ndarray
    d_capacity: np.ndarray
    d_used: np.ndarray
    # lease table
    l_holder: np.ndarray
    l_time: np.ndarray

    def alive_datanodes(self, now_ms: int, expire_ms: int = 630_000) -> np.ndarray:
        return self.d_id[self.d_last >= now_ms - expire_ms]


def generate(shape: Shape, seed: int, now_ms: int) -> NNState:
    rng = np.random.default_rng(seed)
    # -- namespace: root, top dirs, sub dirs, files -------------------------
    ids, parents, names = [0], [0], [""]
    next_id = 1
    sub_ids = []
    for t in range(shape.top_dirs):
        tid = next_id
        next_id += 1
        ids.append(tid), parents.append(0), names.append(f"u{t:02d}")
        for s in range(shape.sub_dirs):
            ids.append(next_id), parents.append(tid), names.append(f"d{s:03d}")
            sub_ids.append(next_id)
            next_id += 1
    n_dirs = len(ids)
    n_files = len(sub_ids) * shape.files
    file_ids = np.arange(next_id, next_id + n_files, dtype=np.int64)
    file_parent = np.repeat(np.array(sub_ids, dtype=np.int64), shape.files)
    file_names = np.array(
        [f"f{i:05d}" for i in range(shape.files)] * len(sub_ids), dtype=object
    )
    f_id = np.concatenate([np.array(ids, dtype=np.int64), file_ids])
    f_parent = np.concatenate([np.array(parents, dtype=np.int64), file_parent])
    f_name = np.concatenate([np.array(names, dtype=object), file_names])
    f_repl = np.concatenate(
        [np.zeros(n_dirs, dtype=np.int8), np.full(n_files, 3, dtype=np.int8)]
    )

    # -- blocks: 1-3 per file, 3 replicas on distinct datanodes -------------
    nblk = rng.integers(1, 4, size=n_files)
    blk_file = np.repeat(file_ids, nblk)
    blk_index = np.concatenate([np.arange(k) for k in nblk]).astype(np.int32)
    n_blocks = len(blk_file)
    blk_id = np.arange(1_000_000, 1_000_000 + n_blocks, dtype=np.int64)
    last = np.r_[blk_index[1:] == 0, True]  # last block of its file
    blk_len = np.where(
        last, rng.integers(1 << 20, BLOCK_BYTES, size=n_blocks), BLOCK_BYTES
    ).astype(np.int64)
    blk_gs = rng.integers(1000, 5000, size=n_blocks).astype(np.int64)
    # open (under-construction) files: last block has length -1 on every replica
    open_frac = 0.002
    is_open = rng.random(n_files) < open_frac
    open_blk = last & np.repeat(is_open, nblk)
    blk_len = np.where(open_blk, -1, blk_len)
    # replica count: 3, with ~1% at 2 and ~0.3% at 1 (under-replicated)
    u = rng.random(n_blocks)
    nrep = np.where(u < 0.003, 1, np.where(u < 0.013, 2, 3))
    placement = rng.random((n_blocks, shape.datanodes)).argsort(axis=1)[:, :3]
    keep = np.arange(3)[None, :] < nrep[:, None]
    rep_blk = np.repeat(np.arange(n_blocks), 3).reshape(n_blocks, 3)[keep]
    b_dn = placement[keep].astype(np.int64)
    b_gs = blk_gs[rep_blk].copy()
    b_len = blk_len[rep_blk]
    # stale replicas (a lower generation stamp than the block's others):
    # about 0.5% of multi-replica blocks get one stale copy
    multi = np.flatnonzero(nrep[rep_blk] > 1)
    first_of_block = multi[np.r_[True, rep_blk[multi][1:] != rep_blk[multi][:-1]]]
    stale = first_of_block[rng.random(len(first_of_block)) < 0.005]
    b_gs[stale] -= 1

    # file lengths: sum of complete block lengths
    f_len_files = np.zeros(n_files, dtype=np.int64)
    np.add.at(f_len_files, np.searchsorted(file_ids, blk_file), np.maximum(blk_len, 0))
    f_length = np.concatenate([np.full(n_dirs, DIR_LENGTH, dtype=np.int64), f_len_files])

    # leases: one holder per open file; a third of them expired
    open_fids = file_ids[is_open]
    holders = np.array([f"client-{seed}-{i}" for i in range(len(open_fids))], dtype=object)
    expired = rng.random(len(open_fids)) < 1 / 3
    l_time = np.where(
        expired,
        now_ms - LEASE_HARD_LIMIT_MS - rng.integers(1, 3600_000, size=len(open_fids)),
        now_ms - rng.integers(0, 600_000, size=len(open_fids)),
    ).astype(np.int64)
    f_holder = np.full(len(f_id), None, dtype=object)
    f_holder[np.searchsorted(f_id, open_fids)] = holders

    # datanodes: the last ``dead_datanodes`` stopped heartbeating
    d_id = np.arange(shape.datanodes, dtype=np.int64)
    dead = d_id >= shape.datanodes - shape.dead_datanodes
    d_last = np.where(dead, now_ms - DEAD_AGE_MS, now_ms).astype(np.int64)
    d_capacity = rng.integers(8 << 40, 16 << 40, size=shape.datanodes).astype(np.int64)
    d_used = rng.integers(1 << 40, 4 << 40, size=shape.datanodes).astype(np.int64)

    return NNState(
        now_ms=now_ms,
        f_id=f_id, f_parent=f_parent, f_name=f_name, f_length=f_length,
        f_repl=f_repl, f_holder=f_holder,
        b_id=blk_id[rep_blk], b_dn=b_dn, b_length=b_len, b_gs=b_gs,
        b_file=blk_file[rep_blk], b_index=blk_index[rep_blk],
        d_id=d_id, d_last=d_last, d_capacity=d_capacity, d_used=d_used,
        l_holder=holders, l_time=l_time,
    )


def write_seed_parquet(st: NNState, out_dir: str) -> dict[str, str]:
    """Write the seed tables as parquet in ``out_dir``; returns table →
    path.  The engine ingests them through ``VersionedTable.init``."""
    os.makedirs(out_dir, exist_ok=True)
    n = len(st.f_id)
    tables = {
        "file": pa.table({
            "id": st.f_id, "parentId": st.f_parent, "name": st.f_name.astype(str),
            "length": st.f_length,
            "blockSize": np.where(st.f_length == DIR_LENGTH, 0, BLOCK_BYTES).astype(np.int32),
            "replication": st.f_repl,
            "atime": np.full(n, st.now_ms, dtype=np.int64),
            "mtime": np.full(n, st.now_ms, dtype=np.int64),
            "owner": np.zeros(n, dtype=np.int32),
            "permission": np.where(st.f_length == DIR_LENGTH, 0o755, 0o644).astype(np.int16),
            "leaseHolder": pa.array(st.f_holder.tolist(), type=pa.string()),
            "leaseRecoveryTime": np.zeros(n, dtype=np.int64),
            "nsQuota": np.full(n, -1, dtype=np.int64),
            "dsQuota": np.full(n, -1, dtype=np.int64),
        }),
        "block": pa.table({
            "id": st.b_id, "datanodeId": st.b_dn, "length": st.b_length,
            "generationStamp": st.b_gs, "fileId": st.b_file, "fileIndex": st.b_index,
        }),
        "datanode": pa.table({
            "id": st.d_id,
            "name": [f"dn{i:02d}:50010" for i in st.d_id],
            "storageId": [f"DS-{i:04d}" for i in st.d_id],
            "ipcPort": np.full(len(st.d_id), 50020),
            "infoPort": np.full(len(st.d_id), 50075),
            "capacity": st.d_capacity,
            "dfsUsed": st.d_used,
            "remaining": st.d_capacity - st.d_used,
            "lastUpdated": st.d_last,
            "xceiverCount": np.full(len(st.d_id), 4),
            "location": [f"/rack{i % 4}" for i in st.d_id],
            "adminState": ["NORMAL"] * len(st.d_id),
        }),
        "lease": pa.table({"holder": st.l_holder.astype(str), "time": st.l_time}),
    }
    paths = {}
    for name, t in tables.items():
        p = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, p)
        paths[name] = p
    return paths


def build_store(spark, st: NNState, root: str, backend):
    """Ingest the seed through ``VersionedTable.init`` and enroll the
    four tables in one ``TransactionLog`` — the same wiring
    ``FileSystemStore.create_at`` does for an empty namespace."""
    from pyspark.sql import functions as F

    from adfs_spark.blockmap import BlockMap
    from adfs_spark.filesystem import FileSystemStore
    from adfs_spark.namespace import Namespace
    from adfs_spark.schema import BLOCK, DATANODE, FILE, LEASE
    from adfs_spark.storage import TransactionLog, VersionedTable

    paths = write_seed_parquet(st, os.path.join(root, "seed"))
    tables = {}
    for spec, sub in ((FILE, "fs"), (BLOCK, "blocks"), (DATANODE, "dns"), (LEASE, "leases")):
        t = VersionedTable(spark, spec, os.path.join(root, sub), backend=backend)
        src = spark.read.parquet(paths[spec.name])
        t.init(src.select([
            F.col(f.name).cast(f.dataType)
            for f in spec.struct_type(include_version=False).fields
        ]))
        tables[spec.name] = t
    txn = TransactionLog(root, backend=backend)
    for t in tables.values():
        txn.enroll(t)
    ns = Namespace(tables["file"])
    bm = BlockMap(ns, tables["block"], tables["datanode"], tables["lease"])
    return FileSystemStore(ns, bm, txn)
