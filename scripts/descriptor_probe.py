"""Descriptor driver-cost probe.

Compiles the feature-complete descriptor of ``tests/test_featureset_e2e``
(FIXTURES.md §F2), repeated ``--copies`` times with each copy's node
names suffixed, over the §F2 records repeated ``--repeat`` times, and
prints one JSON line:

* ``py4j`` — main-thread py4j commands sent while compiling the
  descriptor, rendering N-Triples and analyzing the plan (py4j's
  ``m\\nd\\n`` object-release commands are not counted);
* ``compile_s`` — wall time of that same driver-side work;
* ``run_s`` — wall time of one run of the plan into Spark's ``noop`` sink;
* ``triples`` and ``sha256`` — the number of N-Triples lines and the
  sha256 of the sorted lines (each followed by ``\\n``).

Usage: python scripts/descriptor_probe.py [--copies 6] [--repeat 10000]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import threading
import time
from contextlib import contextmanager

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)
sys.path.insert(0, os.path.join(_ROOT, "tests"))

from test_featureset_e2e import LANGS_MAP, RECORDS, ROLES_MAP, SCHEMA  # noqa: E402

from spcht_spark.descriptor import compile_descriptor  # noqa: E402
from spcht_spark.descriptor.rdf import triples_to_ntriples  # noqa: E402

# test_featureset_e2e's descriptor after load_descriptor (its $ref maps
# inlined).
FEATURESET_NODES = [
    {"name": "title", "source": "dict", "field": "title",
     "predicate": "dc:title", "required": "optional",
     "alternatives": ["title_sub"],
     "fallback": {"source": "dict", "field": "title_short", "prepend": "short:"}},
    {"name": "ctrl", "source": "dict", "field": "ctrlnum",
     "predicate": "dc:identifier", "required": "optional",
     "match": "^\\(DE-627\\)", "cut": "^\\(DE-627\\)", "replace": "",
     "prepend": "de627:"},
    {"name": "lang", "source": "dict", "field": "language",
     "predicate": "dc:language", "required": "optional",
     "mapping": dict(LANGS_MAP), "mapping_settings": {"$inherit": True}},
    {"name": "format", "source": "dict", "field": "format_finc",
     "predicate": "dc:format", "required": "optional",
     "mapping": {"Book": "printed-book"},
     "mapping_settings": {"$default": "other-format"}},
    {"name": "authors", "source": "dict", "field": "author2",
     "predicate": "dc:contributor", "required": "optional",
     "joined_field": "author2_role", "joined_map": dict(ROLES_MAP)},
    {"name": "modern", "source": "dict", "field": "id",
     "predicate": "is:modern", "required": "optional", "static_field": "yes",
     "if_field": "publishDateSort", "if_condition": ">=", "if_value": 2000},
    {"name": "topics", "source": "dict", "field": "topic_facet",
     "predicate": "dc:subject", "required": "optional",
     "insert_into": "topic:{}/inst:{}",
     "insert_add_fields": [{"field": "institution"}]},
    {"name": "marc_author", "source": "marc", "field": "100:a",
     "predicate": "marc:author", "required": "optional"},
    {"name": "marc_locations", "source": "marc", "field": "951:a",
     "predicate": "marc:location", "required": "optional",
     "fallback": {"source": "dict", "field": "institution"}},
]


def featureset_descriptor(copies: int = 1) -> dict:
    """The featureset descriptor with its nodes repeated ``copies``
    times (9 nodes per copy); copy ``i`` suffixes each name with ``_i``."""
    return {
        "id_source": "dict",
        "id_field": "id",
        "nodes": [
            dict(node, name=f"{node['name']}_{i}")
            for i in range(copies)
            for node in FEATURESET_NODES
        ],
    }


@contextmanager
def driver_calls(spark):
    """Count the main thread's py4j commands inside the block (the
    returned one-element list holds the count once the block exits).
    Releases (``m\\nd\\n``) are skipped: they follow Python's garbage
    collector, not the work done."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    main = threading.main_thread()
    count = [0]

    def counted(command, *args, **kwargs):
        if threading.current_thread() is main and not command.startswith("m\nd\n"):
            count[0] += 1
        return send(command, *args, **kwargs)

    client.send_command = counted
    try:
        yield count
    finally:
        client.send_command = send


def compile_ntriples(descriptor: dict, df):
    """``compile_descriptor`` → N-Triples with the plan analyzed: the
    driver-side work of a descriptor run, before its first job."""
    nt = triples_to_ntriples(compile_descriptor(descriptor, df, subject_prefix="https://d/"))
    nt._jdf.queryExecution().analyzed()
    return nt


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--copies", type=int, default=6)
    ap.add_argument("--repeat", type=int, default=10_000)
    ap.add_argument("--cores", type=int, default=4)
    args = ap.parse_args()

    from spcht_spark.session import get_spark

    spark = get_spark("descriptor_probe", cores=args.cores)
    df = spark.createDataFrame(RECORDS * args.repeat, schema=SCHEMA).cache()
    df.count()
    desc = featureset_descriptor(args.copies)
    t0 = time.perf_counter()
    with driver_calls(spark) as calls:
        nt = compile_ntriples(desc, df)
    compile_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    nt.write.format("noop").mode("overwrite").save()
    run_s = time.perf_counter() - t0

    digest, n = hashlib.sha256(), 0
    for row in nt.orderBy("line").toLocalIterator():
        digest.update(row["line"].encode("utf-8") + b"\n")
        n += 1
    print(json.dumps({
        "nodes": len(desc["nodes"]), "records": df.count(), "py4j": calls[0],
        "compile_s": round(compile_s, 3), "run_s": round(run_s, 3),
        "triples": n, "sha256": digest.hexdigest(),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
