"""client_rpc: one HDFS client issuing namespace RPCs to a seeded namenode.

Each pass writes one new file through the atomic multi-table verbs and
reads around it: create_file → getFileInfo(new) → allocate_block →
getBlockLocations(new) → getListing(its dir) → setReplication(new) →
getContentSummary(another dir) → compact() of the four tables.  The
two reads of the new file find it only in the pending changelog
overlay; the listing mixes seeded entries with the new one; the content
summary reads a seeded directory.  Warm point verbs take seconds each,
so a pass compacts after its three writes: reads see an overlay of a few
pending changelog files, not the long overlay of a namenode that
compacts rarely.  Every read is checked against the
numpy model of the state, and the written state is re-read and checked
after the timed passes.
"""

from __future__ import annotations

import os
import time

import numpy as np

import nnstate
import spans as tr

SHAPE = nnstate.Shape(top_dirs=20, sub_dirs=10, files=98, datanodes=20, dead_datanodes=3)

READS = ("getFileInfo", "getBlockLocations", "getListing", "getContentSummary")
WRITES = ("create_file", "allocate_block", "setReplication")


class ClientRpc:
    def __init__(self, bench):
        self.b = bench
        self.rng = np.random.default_rng(bench.seed + 1)
        self.created: list[tuple[int, str, int, int, list[int]]] = []
        self.overlay_at_read: list[int] = []  # pending changelog files when a read starts

    # -- set-up -----------------------------------------------------------

    def generate(self) -> None:
        """Generate the seeded state and its model (not timed)."""
        self.st = nnstate.generate(SHAPE, self.b.seed, int(time.time() * 1000))
        self._model()

    def load(self) -> None:
        """Ingest the seeded state (timed set-up)."""
        b = self.b
        self.fs = nnstate.build_store(b.spark, self.st, os.path.join(b.work, "nn"), b.backend)

    def _model(self) -> None:
        """Directory paths, children and subtree sizes of the seed."""
        st = self.st
        is_file = st.f_length != nnstate.DIR_LENGTH
        self.sub_dirs = st.f_id[(~is_file) & (st.f_parent != 0)]
        self.path_of = {0: ""}
        for i, p, n in zip(st.f_id[~is_file].tolist(), st.f_parent[~is_file].tolist(),
                           st.f_name[~is_file].tolist()):
            if i:
                self.path_of[i] = f"{self.path_of[p]}/{n}"
        order = np.argsort(st.f_parent[is_file], kind="stable")
        fpar, flen = st.f_parent[is_file][order], st.f_length[is_file][order]
        fname = st.f_name[is_file][order]
        cuts = np.searchsorted(fpar, self.sub_dirs)
        ends = np.searchsorted(fpar, self.sub_dirs, side="right")
        self.children = {int(d): set(fname[a:e].tolist()) for d, a, e in zip(self.sub_dirs, cuts, ends)}
        self.du = {int(d): (int(flen[a:e].sum()), int(e - a)) for d, a, e in zip(self.sub_dirs, cuts, ends)}
        self.next_id = int(st.f_id.max()) + 1
        self.next_block = int(st.b_id.max()) + 1
        self.alive = st.alive_datanodes(st.now_ms)

    def setup(self) -> None:
        """Install the span hooks and start the disk ledger (not timed)."""
        b = self.b
        ns, bm, fs = self.fs.namespace, self.fs.blockmap, self.fs
        t = b.tracer
        for name in ("get_file_info", "get_listing", "content_summary", "create",
                     "set_replication", "_resolve_chain"):
            t.wrap(ns, name, f"namespace.{name}")
        for name in ("create_file", "allocate_block"):
            t.wrap(fs, name, f"filesystem.{name}")
        t.wrap(bm, "get_block_locations", "blockmap.get_block_locations")
        t.wrap(fs.txn, "_commit", "filesystem.txn_commit")
        self.tables = (ns.table, bm.blocks, bm.datanodes, bm.leases)
        for vt in self.tables:
            for m in ("live", "snapshot", "point_lookup"):
                t.wrap(vt, m, "storage.read")
            for m in ("upsert", "update_where", "delete_where", "delete_where_keys"):
                t.wrap(vt, m, "storage.write")
            t.wrap(vt, "compact", "storage.compact")
        self.ledger = tr.DiskLedger([vt.root for vt in self.tables])
        self.ledger.start()

    # -- one pass ---------------------------------------------------------

    def run_pass(self, k: int) -> None:
        b, ns, bm, fs = self.b, self.fs.namespace, self.fs.blockmap, self.fs
        d, other = (int(x) for x in self.rng.choice(self.sub_dirs, 2, replace=False))
        dpath = self.path_of[d]
        name = f"bench{k:04d}"
        path = f"{dpath}/{name}"
        holder = f"perfbench-{b.seed}-{k}"
        fid, blk = self.next_id, self.next_block
        targets = [int(x) for x in self.rng.choice(self.alive, 3, replace=False)]

        def disk(op):
            self.ledger.after_op(compacting=op == "compact")

        def read(kind, fn, check):
            self.overlay_at_read.append(self.ledger.changelog_files_since_compact)
            b.op(kind, "read", fn, check)

        b.op("create_file", "write",
             lambda: fs.create_file(path, replication=3, lease_holder=holder),
             lambda r: r == fid, after=disk)
        self.next_id += 1
        self.children[d].add(name)
        self.du[d] = (self.du[d][0], self.du[d][1] + 1)

        read("getFileInfo", lambda: ns.get_file_info(path),
             lambda r: r is not None and (r["id"], r["parentId"], r["name"], r["length"],
                                          r["replication"], r["leaseHolder"])
             == (fid, d, name, 0, 3, holder))
        b.op("allocate_block", "write",
             lambda: fs.allocate_block(fid, blk, 0, targets), lambda r: r is None, after=disk)
        self.next_block += 1
        read("getBlockLocations", lambda: bm.get_block_locations(path).collect(),
             lambda r: len(r) == 1 and r[0]["block_id"] == blk and r[0]["fileIndex"] == 0
             and r[0]["length"] == -1 and r[0]["datanodeId"] in targets)
        read("getListing",
             lambda: [r["name"] for r in ns.get_listing(dpath).select("name").collect()],
             lambda r: sorted(r) == sorted(self.children[d]))
        b.op("setReplication", "write", lambda: ns.set_replication(path, 2),
             lambda r: r is None, after=disk)
        tot, nfiles = self.du[other]
        read("getContentSummary", lambda: ns.content_summary(self.path_of[other]),
             lambda r: (r["total_length"], r["file_count"], r["dir_count"]) == (tot, nfiles, 1))
        b.op("compact", "maintenance", lambda: [vt.compact() for vt in self.tables],
             lambda r: True, after=disk)
        self.created.append((fid, name, d, blk, targets))

    # -- after the timed passes -------------------------------------------

    def final_check(self) -> int:
        """Re-read everything the passes wrote; returns mismatches."""
        from pyspark.sql import functions as F

        if not self.created:
            return 0
        ids = [c[0] for c in self.created]
        ns, bm = self.fs.namespace, self.fs.blockmap
        rows = {r["id"]: r for r in ns.ns().filter(F.col("id").isin(ids)).collect()}
        reps: dict[int, set[int]] = {}
        for r in bm.blocks.live().filter(F.col("fileId").isin(ids)).collect():
            reps.setdefault(r["id"], set()).add(r["datanodeId"])
        leases = bm.leases.live().filter(F.col("holder").startswith("perfbench-")).count()
        leases = abs(leases - len(self.created))
        bad = 0
        for fid, name, d, blk, targets in self.created:
            r = rows.get(fid)
            ok = (r is not None and r["name"] == name and r["parentId"] == d
                  and r["replication"] == 2 and r["length"] == 0 and r["leaseHolder"] is not None
                  and reps.get(blk) == set(targets))
            bad += not ok
        return bad + leases

    def layer_metrics(self) -> dict[str, float]:
        b, t = self.b, self.b.tracer
        reads = [o for o in b.ops if o.cls == "read"]
        writes = [o for o in b.ops if o.cls == "write"]
        nops = max(len(b.ops), 1)
        m: dict[str, float] = {}
        for verb, span in (("getFileInfo", "get_file_info"), ("getListing", "get_listing"),
                           ("getContentSummary", "content_summary"),
                           ("setReplication", "set_replication")):
            m[f"namespace.{verb}.p50_ms"] = b.p50_ms(t.durations(f"namespace.{span}"))
        m["namespace.self_ms_per_op"] = 1000 * t.totals("namespace.")[2] / nops
        for verb in ("create_file", "allocate_block"):
            m[f"filesystem.{verb}.p50_ms"] = b.p50_ms(t.durations(f"filesystem.{verb}"))
        n_commit, s_commit, _ = t.totals("filesystem.txn_commit")
        m["filesystem.txn_commit_ms"] = 1000 * s_commit / max(n_commit, 1)
        m["blockmap.get_block_locations.p50_ms"] = b.p50_ms(t.durations("blockmap.get_block_locations"))
        n_rd, s_rd, _ = t.totals("storage.read")
        n_wr, s_wr, _ = t.totals("storage.write")
        m["storage.read_plan_ms_per_op"] = 1000 * s_rd / nops
        m["storage.read_calls_per_op"] = n_rd / nops
        m["storage.overlay_versions_at_read"] = b.mean(self.overlay_at_read)
        m["storage.write_ms_per_write"] = 1000 * s_wr / max(n_wr, 1)
        m["storage.writes_per_op"] = n_wr / max(len(writes), 1)
        m["storage.bytes_written_per_write"] = self.ledger.written / max(n_wr, 1)
        m["storage.compact_s"] = t.totals("storage.compact")[1] / max(len(self.ledger.pending_at_compact), 1)
        m["storage.pending_changelog_files_at_compact"] = b.mean(self.ledger.pending_at_compact)
        m["storage.bytes_per_live_row"] = self.ledger.live_bytes() / (
            len(self.st.f_id) + len(self.st.b_id) + len(self.st.d_id) + len(self.st.l_holder))
        for v in tr.BACKEND_VERBS:
            m[f"backend.{v}.calls_per_write"] = b.mean(o.backend_calls[v] for o in writes)
        m["backend.ms_per_write"] = 1000 * b.mean(o.backend_s for o in writes)
        m["spark.jobs_per_read"] = b.mean([o.jobs for o in reads])
        m["spark.tasks_per_read"] = b.mean([o.tasks for o in reads])
        m["spark.jobs_per_write"] = b.mean([o.jobs for o in writes])
        m["spark.tasks_per_write"] = b.mean([o.tasks for o in writes])
        return m

    def report_lines(self) -> list[str]:
        b = self.b
        lines = [b.latency_line("read", [o for o in b.ops if o.cls == "read"]),
                 b.latency_line("write", [o for o in b.ops if o.cls == "write"])]
        for verb in READS + WRITES + ("compact",):
            lines.append(b.latency_line(verb, [o for o in b.ops if o.kind == verb]))
        lines.append(f"state: {len(self.st.f_id)} namespace entries, {len(self.st.b_id)} "
                     f"block replicas, {len(self.st.d_id)} datanodes, {len(self.st.l_holder)} leases")
        lines.append(f"disk: {self.ledger.written} bytes written by verbs, "
                     f"{self.ledger.compacted} by compaction; changelog files pending at "
                     f"each compaction {self.ledger.pending_at_compact}, when each read "
                     f"started {self.overlay_at_read}")
        return lines
