"""CLI driver (W8 parity: /root/reference/Spcht/main.py:73-414 verbs,
re-expressed for the new engine). Run as
``python -m spcht_spark.cli <verb> ...`` or via spark-submit --py-files.

Verbs:
  full-order         create + run (or resume) an index-build work order
  continue-order     resume an existing order  (--ContinueWorkOrder parity)
  create-order       lay down the manifest without executing (--CreateOrder)
  advance-order      execute exactly one pending stage (--HandleWorkOrder)
  cleanup-order      drop intermediates, keep finals (--CleanUp parity)
  check-order        metrics rollup            (--CheckWorkOrder parity)
  query              top-k BM25 over a committed index (exact or wand)
  search             one Solr-style request over a committed index:
                     boolean q + fq/fl/facets/stats/highlight components
  check-descriptor   validate a descriptor     (--CheckSpcht parity)
  compile-descriptor resolve $refs + print     (--CompileSpcht parity)
  descriptor-fields  input fields a descriptor reads (--CheckFields parity)
  write-triples      descriptor × table → RDF text sink (S6 parity:
                     process2RDF nt/ttl/nquads/xml → df.write.text)
  write-table        descriptor × table → triples table (S7/S8 parity:
                     the SPARQL-INSERT / isql bulk-load targets become
                     one distributed table write)
"""

from __future__ import annotations

import argparse
import json
import sys

from spcht_spark.corpus import generate_corpus
from spcht_spark.index.query import exact_topk
from spcht_spark.index.tokenize import TOKENIZERS
from spcht_spark.index.wand import wand_topk
from spcht_spark.plans import workorder as wo
from spcht_spark.plans.indexer import index_order, load_index, run_index_order
from spcht_spark.session import get_spark


def _order_for(args):
    def source(spark):
        if args.corpus_parquet:
            return spark.read.parquet(args.corpus_parquet)
        return generate_corpus(spark, n_docs=args.n_docs, partitions=args.partitions)

    return index_order(
        args.workdir, args.run_id, source,
        tokenizer=args.tokenizer, shard_span=args.shard_span,
        verify_sha256=not args.no_verify_sha256,
        analyzer=args.analyzer,
    )


def _parse_group_sort(spec: str | None):
    """'n_chars desc' -> ("n_chars", True); bare field -> asc."""
    if spec is None:
        return None
    parts = spec.split()
    if len(parts) not in (1, 2) or (
        len(parts) == 2 and parts[1] not in ("asc", "desc")
    ):
        raise SystemExit(f"error: --group-sort wants 'FIELD [asc|desc]', got {spec!r}")
    return (parts[0], len(parts) == 2 and parts[1] == "desc")


def _parse_facet_intervals(specs: list[str]):
    """['n_chars=[0,500)', 'n_chars=[500,*]'] -> ("n_chars", [...]);
    all entries must name the same field (one facet.interval per
    request in this CLI)."""
    if not specs:
        return None
    fields, sets = [], []
    for s in specs:
        if "=" not in s:
            raise SystemExit(f"error: --facet-interval wants FIELD=[lo,hi), got {s!r}")
        f, iv = s.split("=", 1)
        fields.append(f)
        sets.append(iv)
    if len(set(fields)) != 1:
        raise SystemExit("error: --facet-interval entries must share one field")
    return (fields[0], sets)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="spcht_spark")
    p.add_argument("--cores", type=int, default=None)
    sub = p.add_subparsers(dest="verb", required=True)

    for verb in ("full-order", "continue-order", "create-order", "advance-order"):
        sp = sub.add_parser(verb)
        sp.add_argument("workdir")
        sp.add_argument("--run-id", default="run1")
        sp.add_argument("--corpus-parquet", default=None,
                        help="existing corpus table; default: synthesize")
        sp.add_argument("--n-docs", type=int, default=2000)
        sp.add_argument("--partitions", type=int, default=None)
        sp.add_argument("--tokenizer", choices=TOKENIZERS, default="arrow")
        sp.add_argument("--shard-span", type=int, default=1 << 17)
        sp.add_argument("--no-verify-sha256", action="store_true")
        sp.add_argument("--analyzer", default=None,
                        help="analyzer chain, e.g. lowercase or "
                             "lowercase,stop,sstem (default: case-"
                             "preserving, no filters); recorded in the "
                             "manifest and re-applied by query/search")

    sp = sub.add_parser("check-order")
    sp.add_argument("workdir")
    sp.add_argument("--run-id", default="run1")

    sp = sub.add_parser("cleanup-order")
    sp.add_argument("workdir")
    sp.add_argument("--run-id", default="run1")
    sp.add_argument("--keep", nargs="*", default=None,
                    help="stage outputs to keep (default: the final index tables)")

    sp = sub.add_parser("query")
    sp.add_argument("workdir")
    sp.add_argument("terms", nargs="+")
    sp.add_argument("-k", type=int, default=10)
    sp.add_argument("--engine", choices=["exact", "wand"], default="wand")
    sp.add_argument("--mode", choices=["or", "and"], default="or")

    sp = sub.add_parser("search", help="one Solr-style request: boolean q "
                        "+ fl/facets/stats/highlight components")
    sp.add_argument("workdir")
    sp.add_argument("q", help='boolean query string, e.g. "(a AND b) OR -c"')
    sp.add_argument("-k", type=int, default=10)
    sp.add_argument("--doc-store", default=None,
                    help="parquet with (doc_id, content, ...) stored fields; "
                         "required for --fl/--facet/--stats-field/--hl")
    sp.add_argument("--id-col", default="doc_id")
    sp.add_argument("--content-col", default="content")
    sp.add_argument("--fq", default=None,
                    help='metadata filter query, e.g. "lang:en AND n:[2 TO *]"')
    sp.add_argument("--fl", nargs="*", default=[])
    sp.add_argument("--facet", nargs="*", default=[])
    sp.add_argument("--facet-query", nargs="*", default=[], metavar="NAME=Q",
                    help='named boolean facet queries counted over the '
                         'DocSet, e.g. "recent=year:[2020 TO *]"')
    sp.add_argument("--facet-pivot", default=None, metavar="F1,F2[,F3...]",
                    help="pivot facet over attr fields, any depth")
    sp.add_argument("--group-field", default=None,
                    help="group results by this attr field (group=true)")
    sp.add_argument("--group-limit", type=int, default=1)
    sp.add_argument("--group-ngroups", action="store_true",
                    help="group.ngroups: total distinct-group count column")
    sp.add_argument("--group-sort", default=None, metavar="FIELD [asc|desc]",
                    help='group.sort: within-group doc order, e.g. '
                         '"n_chars desc" (groups still rank by best doc)')
    sp.add_argument("--facet-interval", action="append", default=[],
                    metavar="FIELD=[lo,hi)",
                    help="interval facet, repeatable: "
                         '"n_chars=[0,500)" "n_chars=[500,*]"')
    sp.add_argument("--stats-field", default=None)
    sp.add_argument("--q-op", choices=["OR", "AND"], default="OR",
                    help="q.op: operator bare adjacency binds with")
    sp.add_argument("--hl", action="store_true")
    sp.add_argument("--hl-tag", nargs=2, default=["<em>", "</em>"],
                    metavar=("PRE", "POST"),
                    help="hl.tag.pre/post: wrapper around matched terms")
    sp.add_argument("--hl-snippets", type=int, default=1,
                    help="hl.snippets: fragments per hit (>1 = multi)")
    sp.add_argument("--facet-prefix", default=None,
                    help="facet.prefix: only buckets starting with this")
    sp.add_argument("--facet-missing", action="store_true",
                    help="facet.missing: add the NULL bucket")
    sp.add_argument("--facet-limit", type=int, default=None)
    sp.add_argument("--json-facet", default=None, metavar="F1,F2,L1,L2[,M]",
                    help="JSON Facet API nested terms facet with optional "
                         "sum metric column")
    sp.add_argument("--rerank", default=None, metavar="Q,N,W",
                    help="rq={!rerank}: rerank query string, reRankDocs, "
                         "reRankWeight (Q must not contain commas)")
    sp.add_argument("--elevate", nargs="*", type=int, default=None,
                    metavar="DOC_ID", help="elevation: pinned ids in order")
    sp.add_argument("--exclude", nargs="*", type=int, default=None,
                    metavar="DOC_ID", help="elevation: excluded ids")
    sp.add_argument("--synonym", nargs="*", default=[],
                    metavar="TERM=ALT|ALT2",
                    help="query-time synonym entries (pre-analyzed)")
    sp.add_argument("--stats-facet", default=None, metavar="FIELD",
                    help="stats.facet: bucket --stats-field by this field")
    sp.add_argument("--sort", default=None, metavar="EXPR[:asc|desc]",
                    help='sort=: docValues field or function query, e.g. '
                         '"div(n_chars,100):desc" (default desc)')
    sp.add_argument("--tv", action="store_true",
                    help="tv=true: term vectors for the page docs")
    sp.add_argument("--collate", action="store_true",
                    help="spellcheck.collate: corrected query + hit count")
    sp.add_argument("--parent-field", default=None, metavar="FIELD",
                    help="{!parent}: also rank parents (score=max) by field")

    for verb in ("check-descriptor", "compile-descriptor", "descriptor-fields"):
        sp = sub.add_parser(verb)
        sp.add_argument("descriptor")

    for verb in ("write-triples", "write-table"):
        sp = sub.add_parser(verb)
        sp.add_argument("descriptor")
        sp.add_argument("table", help="input record table (parquet path)")
        sp.add_argument("out", help="output path")
        sp.add_argument("--subject-prefix", default="")
        if verb == "write-triples":
            sp.add_argument("--format", choices=["nt", "ttl", "turtle", "nquads", "xml"],
                            default="nt")
            sp.add_argument("--graph", default=None, help="graph IRI for nquads")

    args = p.parse_args(argv)

    # descriptor verbs are driver-side only — no SparkSession needed
    if args.verb in ("check-descriptor", "compile-descriptor", "descriptor-fields"):
        from spcht_spark.descriptor.compiler import (
            descriptor_fields,
            load_descriptor,
            validate_descriptor,
        )

        try:
            desc = load_descriptor(args.descriptor)
        except (OSError, ValueError) as ex:
            print(f"error: cannot load descriptor {args.descriptor}: {ex}", file=sys.stderr)
            return 2
        if args.verb == "check-descriptor":
            problems = validate_descriptor(desc)
            for prob in problems:
                print(f"error: {prob}", file=sys.stderr)
            print("OK" if not problems else f"{len(problems)} problem(s)")
            return 0 if not problems else 2
        if args.verb == "compile-descriptor":
            print(json.dumps(desc, indent=1, sort_keys=True))
        else:
            print("\n".join(descriptor_fields(desc)))
        return 0

    from pyspark.sql import SparkSession

    # only stop a session this invocation created (in-process callers —
    # tests, notebooks — keep theirs alive)
    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark("spcht_spark_cli", cores=args.cores)

    if args.verb in ("full-order", "continue-order"):
        order = _order_for(args)
        run_index_order(spark, order)
        print(json.dumps(wo.check_order(order, spark), indent=1))
    elif args.verb == "create-order":
        # CreateOrder parity: lay down the manifest without executing
        order = _order_for(args)
        print(json.dumps(wo.read_manifest(order), indent=1))
    elif args.verb == "advance-order":
        # HandleWorkOrder parity: execute exactly ONE pending stage
        order = _order_for(args)
        wo.run_order(spark, order, max_new_stages=1)
        print(json.dumps(wo.check_order(order, spark), indent=1))
    elif args.verb == "cleanup-order":
        from spcht_spark.plans.indexer import FINAL_STAGES

        order = wo.WorkOrder(args.workdir, args.run_id, [])
        # stage list comes from the manifest for a read-only view
        m = wo.read_manifest(order)
        order = wo.WorkOrder(
            args.workdir, args.run_id,
            [wo.Stage(name, lambda s, o: None) for name in m["stages"]],
        )
        keep = set(args.keep) if args.keep is not None else set(FINAL_STAGES)
        wo.cleanup_order(order, keep=keep)
        print(json.dumps(wo.read_manifest(order)["status"], indent=1))
    elif args.verb == "check-order":
        order = wo.WorkOrder(args.workdir, args.run_id, [])  # read-only view
        try:
            print(json.dumps(wo.check_order(order, spark), indent=1))
        except FileNotFoundError as ex:
            print(f"error: {ex}", file=sys.stderr)
            if owns_session:
                spark.stop()
            return 2
    elif args.verb in ("write-triples", "write-table"):
        from spcht_spark.descriptor.compiler import compile_descriptor, load_descriptor
        from spcht_spark.descriptor.rdf import write_rdf

        try:
            desc = load_descriptor(args.descriptor)
        except (OSError, ValueError) as ex:
            print(f"error: cannot load descriptor {args.descriptor}: {ex}", file=sys.stderr)
            if owns_session:
                spark.stop()
            return 2
        records = spark.read.parquet(args.table)
        triples = compile_descriptor(desc, records, subject_prefix=args.subject_prefix)
        if args.verb == "write-triples":
            write_rdf(triples, args.out, fmt=args.format, graph=args.graph)
        else:
            from spcht_spark.sources.catalog import write_table

            write_table(triples, args.out)
        print(f"wrote {args.out}")
    elif args.verb == "search":
        from pyspark.sql import functions as F

        from spcht_spark.index.search import SearchRequest, search

        idx = load_index(spark, args.workdir)
        bad_fq = [s for s in args.facet_query if "=" not in s]
        if bad_fq or (args.facet_pivot is not None and not args.facet_pivot.strip(",")):
            msg = (
                f"error: --facet-query entries need NAME=QUERY: {bad_fq}"
                if bad_fq
                else "error: --facet-pivot needs at least one field"
            )
            print(msg, file=sys.stderr)
            if owns_session:
                spark.stop()
            return 2
        bad_syn = [s for s in args.synonym if "=" not in s]
        if bad_syn:
            print(f"error: --synonym entries need TERM=ALT|ALT2: {bad_syn}",
                  file=sys.stderr)
            if owns_session:
                spark.stop()
            return 2
        rerank = None
        if args.rerank:
            try:
                rq_s, rn, rw = args.rerank.rsplit(",", 2)
                rerank = (rq_s, int(rn), float(rw))
            except ValueError:
                print("error: --rerank needs Q,N,W (e.g. 'hash,20,2.0')",
                      file=sys.stderr)
                if owns_session:
                    spark.stop()
                return 2
        json_facet = None
        if args.json_facet:
            parts = args.json_facet.split(",")
            if len(parts) not in (4, 5):
                print("error: --json-facet needs F1,F2,L1,L2[,METRIC]",
                      file=sys.stderr)
                if owns_session:
                    spark.stop()
                return 2
            try:
                json_facet = (parts[0], parts[1], int(parts[2]), int(parts[3]),
                              *parts[4:])
            except ValueError:
                print("error: --json-facet limits must be integers",
                      file=sys.stderr)
                if owns_session:
                    spark.stop()
                return 2
        sort = None
        if args.sort:
            sspec, _, sdir = args.sort.partition(":")
            if sdir not in ("", "asc", "desc"):
                print("error: --sort needs EXPR[:asc|desc]", file=sys.stderr)
                if owns_session:
                    spark.stop()
                return 2
            from spcht_spark.index.funcquery import FuncParseError, parse_func

            try:
                parse_func(sspec)
            except FuncParseError as ex:
                print(f"error: --sort: {ex}", file=sys.stderr)
                if owns_session:
                    spark.stop()
                return 2
            sort = (sspec, sdir != "asc")
        needs_store = bool(
            args.fl or args.facet or args.stats_field or args.hl or args.fq
            or args.facet_query or args.facet_pivot or args.group_field
            or json_facet or args.tv or sort or args.parent_field
            or args.facet_interval
        )
        if not needs_store:
            # field:value / field:[lo TO hi] clauses inside q evaluate
            # against the doc store too — without it they'd die on the
            # empty placeholder with a raw missing-column error.
            from spcht_spark.index.boolean import (
                QueryParseError,
                ast_attr_fields,
                parse_query,
            )

            try:
                needs_store = bool(
                    ast_attr_fields(parse_query(
                        args.q, idx.analyzer, default_op=args.q_op))
                )
            except QueryParseError as ex:
                print(f"error: {ex}", file=sys.stderr)
                if owns_session:
                    spark.stop()
                return 2
        if needs_store and not args.doc_store:
            print("error: --fq/--fl/--facet/--stats-field/--hl and "
                  "field:value clauses in q need --doc-store",
                  file=sys.stderr)
            if owns_session:
                spark.stop()
            return 2
        store = (
            spark.read.parquet(args.doc_store)
            if args.doc_store
            else spark.createDataFrame(
                [], schema=f"{args.id_col} long, {args.content_col} string"
            )
        )
        resp = search(
            spark, idx, store,
            SearchRequest(
                q=args.q, q_op=args.q_op, k=args.k,
                fq=args.fq,
                fl=args.fl,
                facets={f: (F.col(f), [f]) for f in args.facet} or None,
                facet_queries=dict(
                    s.split("=", 1) for s in args.facet_query
                ) or None,
                facet_pivot=tuple(
                    f for f in args.facet_pivot.split(",") if f
                )
                if args.facet_pivot else None,
                group_field=args.group_field,
                group_limit=args.group_limit,
                group_ngroups=args.group_ngroups,
                group_sort=_parse_group_sort(args.group_sort),
                facet_interval=_parse_facet_intervals(args.facet_interval),
                stats_field=args.stats_field,
                hl=args.hl,
                hl_tag=tuple(args.hl_tag),
                hl_snippets=args.hl_snippets,
                facet_prefix=args.facet_prefix,
                facet_missing=args.facet_missing,
                facet_limit=args.facet_limit,
                json_facet=json_facet,
                rerank=rerank,
                elevate_ids=args.elevate,
                exclude_ids=args.exclude,
                synonyms={
                    k: v.split("|")
                    for k, v in (s.split("=", 1) for s in args.synonym)
                } or None,
                stats_facet=args.stats_facet,
                sort=sort,
                tv=args.tv,
                collate=args.collate,
                parent_field=args.parent_field,
            ),
            id_col=args.id_col, content_col=args.content_col,
        )
        for r in resp.hits.orderBy("rank").collect():
            print(json.dumps(r.asDict(), default=str))
        if resp.facets is not None:
            for r in resp.facets.orderBy("field", "value").collect():
                print(json.dumps({"facet": r.asDict()}, default=str))
        if resp.stats is not None:
            for r in resp.stats.collect():
                print(json.dumps({"stats": r.asDict()}, default=str))
        if resp.intervals is not None:
            for r in resp.intervals.orderBy("interval").collect():
                print(json.dumps({"interval": r.asDict()}, default=str))
        if resp.facet_query is not None:
            for r in resp.facet_query.orderBy("facet").collect():
                print(json.dumps({"facet_query": r.asDict()}, default=str))
        if resp.pivot is not None:
            for r in resp.pivot.orderBy("value1", "value2").collect():
                print(json.dumps({"pivot": r.asDict()}, default=str))
        if resp.groups is not None:
            for r in resp.groups.orderBy("grp_rank", "doc_rank").collect():
                print(json.dumps({"group": r.asDict()}, default=str))
        if resp.json_facets is not None:
            for r in resp.json_facets.orderBy("value1", "value2").collect():
                print(json.dumps({"json_facet": r.asDict()}, default=str))
        if resp.term_vectors is not None:
            for r in resp.term_vectors.orderBy("doc_id", "term").collect():
                print(json.dumps({"tv": r.asDict()}, default=str))
        if resp.spellcheck is not None:
            for r in resp.spellcheck.collect():
                print(json.dumps({"spellcheck": r.asDict()}, default=str))
        if resp.parents is not None:
            for r in resp.parents.orderBy("rank").collect():
                print(json.dumps({"parent": r.asDict()}, default=str))
    elif args.verb == "query":
        idx = load_index(spark, args.workdir)
        if idx.analyzer:
            # fold terms exactly as the build did (manifest-recorded)
            from spcht_spark.index.boolean import _fold_fn

            fold = _fold_fn(idx.analyzer)
            args.terms = [fold(t) for t in args.terms]
        q = [("q", args.terms, args.k)]
        if args.engine == "wand" and args.mode == "or":
            out = wand_topk(spark, idx.blocks, idx.dictionary, idx.stats, q)
        elif args.engine == "wand" and args.mode == "and":
            from spcht_spark.index.wand import and_topk

            out = and_topk(spark, idx.blocks, idx.dictionary, idx.stats, q)
        else:
            out = exact_topk(
                spark, idx.blocks, idx.doclens, idx.dictionary, idx.stats, q,
                mode=args.mode,
            )
        for r in out.orderBy("rank").collect():
            print(f"{r['rank']:>4}  doc {r['doc_id']:>10}  {r['score']:.6f}")
    if owns_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
