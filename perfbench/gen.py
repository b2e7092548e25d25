"""Seeded input generators for the three workloads.

Everything the program under test receives is made here from ``--seed``:
the same seed gives byte-identical STAC trees, the same request schedule
and the same query order (``selftest.py`` checks this).
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from dataclasses import dataclass, field

import numpy as np

# -- ingest: STAC trees ------------------------------------------------------

COLLECTIONS = 2
ITEMS_PER_COLLECTION = 12
SMALL_ASSETS_PER_ITEM = 3
SMALL_ASSET_BYTES = (16 << 10, 64 << 10)  # tens of KiB
LARGE_ASSETS = 3  # spread over distinct items
LARGE_ASSET_BYTES = (2 << 20, 4 << 20)  # MiB
# Every 2nd version (not 4th) is tampered: a run times two versions, and
# a 1-in-4 schedule gave some seeds a failing version among them and
# others none, which moved the median version time by about 10 %.
TAMPER_EVERY = 2
STAC_VERSION = "1.0.0-rc.3"


def multihash(payload: bytes) -> str:
    """sha2-256 multihash in hex, as STAC ``file:checksum`` carries it."""
    return "1220" + hashlib.sha256(payload).hexdigest()


def is_tampered(seed: int, version_index: int) -> bool:
    """Every TAMPER_EVERY-th version carries one tampered asset; the
    phase of that schedule is fixed by the seed."""
    return version_index % TAMPER_EVERY == seed % TAMPER_EVERY


@dataclass
class StacTree:
    """One generated dataset version as written to staging."""

    root_url: str
    tampered: bool
    docs: list[str]  # every metadata document path
    data: dict[str, str] = field(default_factory=dict)  # asset path -> multihash
    data_bytes: int = 0
    tampered_path: str | None = None


def _collection(cid: str, item_files: list[str]) -> dict:
    return {
        "type": "Collection",
        "stac_version": STAC_VERSION,
        "id": cid,
        "description": f"collection {cid}",
        "license": "CC-BY-4.0",
        "extent": {
            "spatial": {"bbox": [[166.0, -48.0, 179.0, -34.0]]},
            "temporal": {"interval": [["2026-01-01T00:00:00Z", None]]},
        },
        "links": [{"href": f, "rel": "child"} for f in item_files],
    }


def write_stac_tree(seed: int, version_index: int, out_dir: str) -> StacTree:
    """Write catalog -> collections -> items (+ binary assets) under
    ``out_dir``. File basenames are unique within a version because the
    importer keys its copy targets by basename."""
    rng = np.random.Generator(np.random.PCG64([seed, version_index]))
    os.makedirs(out_dir, exist_ok=True)
    tampered = is_tampered(seed, version_index)
    n_items = COLLECTIONS * ITEMS_PER_COLLECTION
    large_items = set(rng.choice(n_items, size=LARGE_ASSETS, replace=False).tolist())
    tree = StacTree(
        root_url=os.path.join(out_dir, "catalog.json"), tampered=tampered, docs=[]
    )
    collection_files = []
    for c in range(COLLECTIONS):
        item_files = []
        for i in range(ITEMS_PER_COLLECTION):
            k = c * ITEMS_PER_COLLECTION + i
            item_id = f"v{version_index}_c{c}_i{i}"
            sizes = rng.integers(*SMALL_ASSET_BYTES, size=SMALL_ASSETS_PER_ITEM).tolist()
            if k in large_items:
                sizes.append(int(rng.integers(*LARGE_ASSET_BYTES)))
            assets = {}
            for a, size in enumerate(sizes):
                name = f"{item_id}_a{a}.bin"
                payload = rng.bytes(size)
                path = os.path.join(out_dir, name)
                with open(path, "wb") as fh:
                    fh.write(payload)
                digest = multihash(payload)
                assets[f"a{a}"] = {"href": name, "file:checksum": digest}
                tree.data[path] = digest
                tree.data_bytes += size
            item = {
                "type": "Feature",
                "stac_version": STAC_VERSION,
                "id": item_id,
                "geometry": None,
                "properties": {"datetime": f"2026-01-{1 + i % 28:02d}T00:00:00Z"},
                "links": [],
                "assets": assets,
            }
            item_file = f"item_{item_id}.json"
            _write_json(os.path.join(out_dir, item_file), item)
            tree.docs.append(os.path.join(out_dir, item_file))
            item_files.append(item_file)
        cid = f"v{version_index}_c{c}"
        collection_file = f"collection_{cid}.json"
        _write_json(os.path.join(out_dir, collection_file), _collection(cid, item_files))
        tree.docs.append(os.path.join(out_dir, collection_file))
        collection_files.append(collection_file)
    catalog = {
        "type": "Catalog",
        "stac_version": STAC_VERSION,
        "id": f"catalog_v{version_index}",
        "description": "benchmark dataset version",
        "links": [{"href": f, "rel": "child"} for f in collection_files]
        + [{"href": "catalog.json", "rel": "self"}],
    }
    _write_json(tree.root_url, catalog)
    tree.docs.append(tree.root_url)
    if tampered:
        # overwrite one asset after its checksum was recorded
        victim = sorted(tree.data)[int(rng.integers(len(tree.data)))]
        with open(victim, "r+b") as fh:
            first = fh.read(1)
            fh.seek(0)
            fh.write(bytes([first[0] ^ 0xFF]))
        tree.tampered_path = victim
    return tree


def _write_json(path: str, doc: dict) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)


# -- catalog_api: request schedule -------------------------------------------

# Each client repeats a cycle of fifteen requests: twelve reads in a
# seeded order, with a write in every fifth slot (80 % reads, 20 %
# writes). The three writes of a cycle go create, register, update, so an
# update always has a dataset of the client's own to rename. A fixed
# cycle gives every run the same mix; independent draws gave a short run
# a different mix per seed.
CYCLE_READS = ("get_by_id",) * 4 + ("get_by_title",) * 3 + ("list",) * 2 + ("status",) * 3
WRITE_ORDER = ("create", "register", "update")
CYCLE = len(CYCLE_READS) + len(WRITE_ORDER)
READ_KINDS = frozenset({"get_by_id", "get_by_title", "list"})
WRITE_KINDS = frozenset(WRITE_ORDER)


@dataclass(frozen=True)
class Request:
    kind: str
    pick: int  # index into the client's known datasets / versions
    failed: bool  # register: the new version's validation fails


def request_schedule(seed: int, client: int, n: int) -> list[Request]:
    """The ``n`` requests client ``client`` sends, in order. Client c
    starts c requests into its stream, so the clients' writes are
    staggered. Targets are indexes resolved against what the client
    itself has seen, so every request's expected answer is known
    without a shared oracle."""
    rng = random.Random(f"catalog_api:{seed}:{client}")
    kinds: list[str] = []
    while len(kinds) < n + client:
        reads = list(CYCLE_READS)
        rng.shuffle(reads)
        for i, write in enumerate(WRITE_ORDER):
            kinds += reads[4 * i : 4 * i + 4] + [write]
    return [
        Request(kind=k, pick=rng.randrange(1 << 30), failed=rng.random() < 0.25)
        for k in kinds[client : client + n]
    ]


# -- analytics: query order ----------------------------------------------------


def rotate(names: list[str], seed: int) -> list[str]:
    """The query list rotated by the seed, so no fixed block of queries
    always meets the start of a run."""
    r = seed % len(names)
    return names[r:] + names[:r]
