"""The ``migrate`` workload: the three reference pipelines of
``plans/pipelines.py`` over one seeded tree, and the checks of their
outputs against the generator's bookkeeping.

A pass runs, each timed from its source scan to the end of its sink:

  filelists  read_blob_listing + project_inventory -> generate_filelists
             (subtree rollup, X2 recursion, driver-side first-fit pack,
             per-unit filelist write)
  acl        read_getfacl_text + assemble_acl_records -> acl_pipeline in
             generate-map mode (skeleton written as JSON), then in apply
             mode into the benchmark's setAccessControl endpoint
  copy       inventory -> copy_pipeline (owner/group remap, ordered mkdir,
             file copy) into the benchmark's mkdir/copy endpoints

Each pipeline run is one operation; a pipeline that raises is a failed
one.  Every pass's outputs are checked after the pass, outside the timed
region.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

from . import effects, tree

# pass step -> the plans.pipelines function it runs
PIPELINES = {"filelists": "generate_filelists", "acl": "acl_pipeline",
             "copy": "copy_pipeline"}


class Migrate:
    def __init__(self, spark, work: str, seed: int, n_files: int, tracer):
        from databox_adls_loader_spark.plans import pipelines

        self.spark = spark
        self.tracer = tracer
        self.inputs = os.path.join(work, "inputs")
        self.out = os.path.join(work, "effects")
        self.tree = tree.generate(self.inputs, seed, n_files)
        self.n_ops = len(PIPELINES)
        self.errors: list[str] = []     # pipeline runs that raised
        self.problems: list[str] = []   # outputs that failed a check
        # per pass, the requests the program itself reports having
        # issued: setAccessControl records in its effects log and the
        # directory count copy_pipeline returns
        self.issued: list[dict[str, int]] = []
        if tracer.enabled:
            # the eager layer calls the pipelines make, seen through the
            # names the pipelines module imported them under
            for attr, name in [
                    ("pack_directories", "operators.pack_s"),
                    ("write_unit_filelists", "sinks.filelists_write_s"),
                    ("apply_acl_sink", "sinks.acl_apply_s"),
                    ("create_directories_ordered", "sinks.create_directories_s"),
                    ("copy_files_sink", "sinks.copy_files_s")]:
                tracer.wrap(pipelines, attr, name)

    # -- sources --------------------------------------------------------
    def _path(self, name: str) -> str:
        return os.path.join(self.inputs, name)

    def inventory(self):
        from databox_adls_loader_spark.sources.inventory import (
            project_inventory, read_blob_listing)
        return project_inventory(
            read_blob_listing(self.spark, self._path("blob_listing.json")))

    def acl_records(self):
        from databox_adls_loader_spark.sources.acl_scan import (
            assemble_acl_records, read_getfacl_text)
        return assemble_acl_records(
            read_getfacl_text(self.spark, self._path("getfacl.txt")))

    def identity_map(self):
        from databox_adls_loader_spark.sources.identity import read_identity_map
        return read_identity_map(self.spark, self._path("identity_map.json"))

    def _sink_dir(self, name: str) -> str:
        d = os.path.join(self.out, name)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return d

    # -- pipelines ------------------------------------------------------
    def filelists(self):
        from databox_adls_loader_spark.plans.pipelines import generate_filelists
        out = os.path.join(self._sink_dir("filelists"), "lists")
        alloc = generate_filelists(self.inventory(), out, self.tree.capacity)
        return lambda: self._check_filelists(
            [tuple(r) for r in alloc.collect()], out)

    def acl(self):
        from databox_adls_loader_spark.plans.pipelines import acl_pipeline
        from databox_adls_loader_spark.sinks.writers import write_identity_map
        d = self._sink_dir("acl")
        acls = self.acl_records()
        skeleton = os.path.join(d, "identity_map_skeleton.json")
        write_identity_map(acl_pipeline(acls, None, mode="generate-map"),
                           skeleton)
        acl_pipeline(acls, self.identity_map(), mode="apply",
                     sender=effects.AclSender(d, "setacl"),
                     effects_dir=os.path.join(d, "log"))
        return lambda: self._check_acl(d, skeleton)

    def copy(self):
        from databox_adls_loader_spark.plans.pipelines import copy_pipeline
        d = self._sink_dir("copy")
        res = copy_pipeline(self.inventory(), self.identity_map(),
                            effects.Creator(d, "mkdir"),
                            effects.Copier(d, "copy"))
        self.directories = res["directories"]
        return lambda: self._check_copy(d)

    def run_pass(self, tag: str) -> tuple[dict, int]:
        """One pass; returns ({pipeline: seconds}, failed operations)."""
        times, failed, checks = {}, 0, []
        self.directories = 0
        for name in PIPELINES:
            with self.tracer.group(f"migrate:{name}:{tag}"), \
                    self.tracer.span(f"plans.{PIPELINES[name]}"):
                t0 = time.perf_counter()
                try:
                    checks.append(getattr(self, name)())
                except Exception as e:  # noqa: BLE001 - counted as failed
                    failed += 1
                    self.errors.append(f"{name}: {type(e).__name__}: {e}"[:300])
                    continue
                times[f"{name}_s"] = time.perf_counter() - t0
        self.issued.append({
            "setacl": len(effects.read_records(
                os.path.join(self.out, "acl", "log"), "part")),
            "mkdir": self.directories})
        with self.tracer.group(f"migrate:check:{tag}"), self.tracer.span("check"):
            for check in checks:
                check()
        return times, failed

    # -- checks ---------------------------------------------------------
    def check(self) -> None:
        """Nothing left to check: each pass checks its own outputs."""

    def _fail(self, msg: str) -> None:
        self.problems.append(msg)

    def _subtree_bytes(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for path, n in self.tree.files.items():
            parts = path.split("/")
            for k in range(1, len(parts) + 1):
                p = "/".join(parts[:k])
                out[p] = out.get(p, 0) + n
        return out

    def _check_filelists(self, alloc: list[tuple], out: str) -> None:
        t, cap = self.tree, self.tree.capacity
        entries = {p: (s, u) for p, s, u in alloc}
        if len(entries) != len(alloc):
            self._fail("filelists: duplicate allocation entries")
        for f in t.files:
            parts = f.split("/")
            cover = sum("/".join(parts[:k]) in entries
                        for k in range(1, len(parts) + 1))
            if cover != 1:
                self._fail(f"filelists: {f} covered by {cover} entries")
                break
        sub = self._subtree_bytes()
        bad = [p for p, (s, _) in entries.items() if sub.get(p) != s]
        if bad:
            self._fail(f"filelists: entry size != subtree bytes for {bad[:3]}")
        if sum(s for s, _ in entries.values()) != sum(t.files.values()):
            self._fail("filelists: total bytes not conserved")
        loads: dict[int, int] = {}
        for s, u in entries.values():
            if u:
                loads[u] = loads.get(u, 0) + s
        if any(v > cap for v in loads.values()):
            self._fail("filelists: a unit holds more than capacity")
        two = sorted(loads.values())[:2]
        if not loads or (len(two) == 2 and sum(two) <= cap):
            self._fail(f"filelists: two units fit together in one ({two})")
        if sorted(loads) != list(range(1, len(loads) + 1)):
            self._fail("filelists: unit numbers are not 1..n")
        for p, (s, u) in entries.items():
            if (u == 0) != (s > cap and p in t.files):
                self._fail(f"filelists: {p} size={s} unit={u}")
                break
        if not any(p.count("/") >= 1 and p not in t.files
                   for p in entries):
            self._fail("filelists: no X2 recursion round happened")
        if entries.get(t.oversized_file, (0, -1))[1] != 0:
            self._fail("filelists: the oversized file is not unit 0")
        # the K1 sink: one directory per assigned unit, its lines the
        # unit's paths
        written: dict[int, list[str]] = {}
        for fn in glob.glob(os.path.join(out, "unit=*", "part-*")):
            u = int(fn.split("unit=")[1].split("/")[0])
            with open(fn) as f:
                written.setdefault(u, []).extend(f.read().split("\n")[:-1])
        expect: dict[int, list[str]] = {}
        for p, (_, u) in entries.items():
            if u:
                expect.setdefault(u, []).append(p)
        if {u: sorted(v) for u, v in written.items()} != \
                {u: sorted(v) for u, v in expect.items()}:
            self._fail("filelists: written filelists differ from allocation")

    def _remap(self, kind: str, ident: str) -> str:
        return self.tree.id_map.get((kind, ident), ident)

    def _remap_entry(self, e: str) -> str:
        f = e.split(":")
        if len(f) >= 4:
            return ":".join([f[0], f[1], self._remap(f[1], f[2]), f[3]])
        return ":".join([f[0], self._remap(f[0], f[1]), f[2]])

    def _check_acl(self, d: str, skeleton: str) -> None:
        t = self.tree
        expect_ids = set()
        for owner, group, entries in t.acls.values():
            expect_ids |= {("user", owner), ("group", group)}
            for e in entries:
                f = e.split(":")
                typ, ident = (f[1], f[2]) if len(f) >= 4 else (f[0], f[1])
                if typ in ("user", "group") and ident:
                    expect_ids.add((typ, ident))
        with open(skeleton) as f:
            got = json.load(f)
        if {(r["type"], r["source"]) for r in got} != expect_ids or \
                len(got) != len(expect_ids) or any(r["target"] for r in got):
            self._fail("acl: identity skeleton != distinct users and groups")
        reqs = effects.read_records(d, "setacl")
        if len(reqs) != len(t.acls) or {r["path"] for r in reqs} != set(t.acls):
            self._fail(f"acl: {len(reqs)} requests for {len(t.acls)} paths")
        # the program's effects log: one "ok" per path it sent
        log = effects.read_records(os.path.join(d, "log"), "part")
        if sorted(r["path"] for r in log) != sorted(t.acls) or \
                any(r["status"] != "ok" for r in log):
            self._fail(f"acl: effects log holds {len(log)} records, not one "
                       f"ok per path for {len(t.acls)} paths")
        for r in reqs:
            owner, group, entries = t.acls.get(r["path"], ("", "", []))
            want = (self._remap("user", owner), self._remap("group", group),
                    ",".join(self._remap_entry(e) for e in entries))
            if (r["owner"], r["group"], r["acl"]) != want:
                self._fail(f"acl: request for {r['path']} is {r}, want {want}")
                break

    def _check_copy(self, d: str) -> None:
        t = self.tree
        mk = effects.read_records(d, "mkdir")
        cp = effects.read_records(d, "copy")
        at = {r["path"]: r["t"] for r in mk}
        if len(mk) != len(t.dirs) or set(at) != set(t.dirs):
            self._fail(f"copy: {len(mk)} mkdirs for {len(t.dirs)} directories")
        for p, ts in at.items():
            parent = p.rsplit("/", 1)[0] if "/" in p else None
            if parent in at and at[parent] >= ts:
                self._fail(f"copy: {p} created before its parent")
                break
        if mk and cp and max(at.values()) >= min(r["t"] for r in cp):
            self._fail("copy: a copy started before the last mkdir")
        if len(cp) != len(t.files) or \
                {(r["path"], r["length"]) for r in cp} != set(t.files.items()):
            self._fail(f"copy: {len(cp)} copies for {len(t.files)} files")

    def sink_records(self) -> dict[str, int]:
        """Records per endpoint in the last pass's sink files."""
        return {k: len(effects.read_records(os.path.join(self.out, d), k))
                for d, k in [("acl", "setacl"), ("copy", "mkdir"),
                             ("copy", "copy")]}

    def sink_bytes(self) -> int:
        return sum(os.path.getsize(os.path.join(dp, f))
                   for dp, _, fs in os.walk(self.out) for f in fs)
