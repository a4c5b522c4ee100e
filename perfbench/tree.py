"""Seeded generator for the migration workload's inputs.

One directory tree is drawn from the seed and written three ways, as the
reference tools would see it:

  blob_listing.json  `az storage blob list --include m` dump, one JSON
                     object per line (folders carry ``hdi_isfolder``)
  getfacl.txt        `hadoop fs -getfacl -R /mnt` text: ``# file:`` /
                     ``# owner:`` / ``# group:`` headers, entry lines
                     (some with a tab-separated ``#effective:`` note)
  identity_map.json  the human-edited ``[{type, source, target}]`` array

The returned :class:`Tree` is the generator's own bookkeeping; the checks
in ``migrate.py`` compare the pipelines' outputs against it.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field

N_USERS = 40
N_GROUPS = 12
TOP_DIRS = 12
MAX_DEPTH = 5           # directory levels below the root
UNITS_TARGET = 6        # capacity = bytes outside the planted file / this
PERMS = ["rwx", "r-x", "r--", "rw-", "---"]


@dataclass
class Tree:
    dirs: list[str]
    files: dict[str, int]                  # path -> length
    acls: dict[str, tuple[str, str, list[str]]]  # path -> (owner, group, entries)
    id_map: dict[tuple[str, str], str]     # (type, source) -> target
    capacity: int
    oversized_file: str
    stats: dict = field(default_factory=dict)


def _draw_tree(rng: random.Random, n_files: int):
    dirs = [f"proj{i:02d}" for i in range(TOP_DIRS)]
    depth = {d: 1 for d in dirs}
    n_dirs = max(TOP_DIRS, n_files // 10)
    while len(dirs) < n_dirs:
        # preferential attachment to shallow directories: a few wide
        # subtrees and a long tail of narrow ones
        parent = dirs[int(len(dirs) * rng.random() ** 2)]
        if depth[parent] >= MAX_DEPTH:
            continue
        child = f"{parent}/d{len(dirs):05d}"
        dirs.append(child)
        depth[child] = depth[parent] + 1
    files: dict[str, int] = {}
    for i in range(n_files):
        d = dirs[rng.randrange(len(dirs))]
        # heavy-tailed lengths: median ~40 KB, a few multi-GB files
        files[f"{d}/f{i:06d}.dat"] = max(1, int(rng.lognormvariate(10.5, 2.5)))
    return dirs, depth, files


def _acl(rng: random.Random, users: list[str], groups: list[str]):
    owner, group = rng.choice(users), rng.choice(groups)
    raw = [f"user::{rng.choice(PERMS[:2])}"]
    for _ in range(rng.randrange(3)):
        e = f"user:{rng.choice(users)}:{rng.choice(PERMS)}"
        raw.append(e + "\t#effective:r--" if rng.random() < 0.3 else e)
    raw.append(f"group::{rng.choice(PERMS[1:3])}")
    if rng.random() < 0.4:
        raw.append(f"group:{rng.choice(groups)}:{rng.choice(PERMS)}")
    if rng.random() < 0.2:
        raw.append(f"default:user:{rng.choice(users)}:rwx")
        raw.append(f"default:group:{rng.choice(groups)}:r-x")
    if len(raw) > 3:
        raw.append("mask::rwx")
    raw.append("other::---")
    clean = [e.split("\t#", 1)[0] for e in raw]
    return owner, group, raw, clean


def generate(out_dir: str, seed: int, n_files: int) -> Tree:
    rng = random.Random(seed)
    users = [f"user{i:02d}" for i in range(N_USERS)]
    groups = [f"grp{i:02d}" for i in range(N_GROUPS)]
    dirs, depth, files = _draw_tree(rng, n_files)

    # capacity: several units, and every top directory fits in one, so
    # the X2 recursion is the same on every seed: one planted file larger
    # than a unit sits directly in proj00, so proj00 alone is recursed,
    # one level, and the file, which cannot be split, stays unassigned
    # (unit 0)
    top = {}
    for path, n in files.items():
        top[path.split("/", 1)[0]] = top.get(path.split("/", 1)[0], 0) + n
    capacity = max(sum(files.values()) // UNITS_TARGET,
                   max(top.values()) * 21 // 20)
    oversized = "proj00/oversized.bin"
    files[oversized] = capacity + capacity // 2

    # identity map: of the users, and of the groups, 75% are mapped, 5%
    # mapped to a blank target (kept blank: present keys never fall
    # back) and 20% absent (they pass through)
    id_map: dict[tuple[str, str], str] = {}
    for kind, names in (("user", users), ("group", groups)):
        names = rng.sample(names, len(names))
        n_mapped, n_blank = round(0.75 * len(names)), round(0.05 * len(names))
        for i, n in enumerate(names[:n_mapped + n_blank]):
            id_map[(kind, n)] = f"{n}@corp.example.com" if i < n_mapped else ""

    os.makedirs(out_dir, exist_ok=True)
    acls: dict[str, tuple[str, str, list[str]]] = {}
    with open(os.path.join(out_dir, "blob_listing.json"), "w") as listing, \
            open(os.path.join(out_dir, "getfacl.txt"), "w") as facl:
        for path in ["", *sorted(dirs), *sorted(files)]:
            owner, group, raw, clean = _acl(rng, users, groups)
            acls[path or "/"] = (owner, group, clean)
            facl.write(f"# file: /mnt{'/' + path if path else ''}\n"
                       f"# owner: {owner}\n# group: {group}\n")
            facl.write("".join(e + "\n" for e in raw) + "\n")
            if not path:
                continue
            perm = json.dumps({"owner": owner, "group": group,
                               "permissions": "rwxr-x---"})
            meta = {"hdi_permission": perm}
            if path in files:
                if rng.random() < 0.3:
                    meta["tier"] = rng.choice(["hot", "cool"])
                length = files[path]
            else:
                meta["hdi_isfolder"] = "true"
                length = 0
            listing.write(json.dumps({"name": path, "metadata": meta,
                                      "properties": {"contentLength": length}})
                          + "\n")
    with open(os.path.join(out_dir, "identity_map.json"), "w") as f:
        json.dump([{"type": t, "source": s, "target": v}
                   for (t, s), v in sorted(id_map.items())], f, indent=2)

    fanout = {}
    for d in dirs:
        if "/" in d:
            p = d.rsplit("/", 1)[0]
            fanout[p] = fanout.get(p, 0) + 1
    stats = {
        "files": len(files), "dirs": len(dirs),
        "max_depth": max(depth.values()),
        "mean_subdirs_per_parent": round(sum(fanout.values()) / len(fanout), 2),
        "max_subdirs": max(fanout.values()),
        "total_bytes": sum(files.values()), "capacity": capacity,
        "identity_miss_rate": round(
            1 - len(id_map) / (N_USERS + N_GROUPS), 3),
    }
    return Tree(dirs, files, acls, id_map, capacity, oversized, stats)
