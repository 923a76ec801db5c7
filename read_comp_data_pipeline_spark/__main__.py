"""spark-submit entry point (north_rule: `spark-submit --py-files`).

Package the library and submit:

    zip -r engine.zip read_comp_data_pipeline_spark
    spark-submit --py-files engine.zip -m ... \
        $(python -c 'import read_comp_data_pipeline_spark as m, os; \
                     print(os.path.join(os.path.dirname(m.__file__), "__main__.py"))') \
        ingest --wal /data/change_events --table /lake/source_code \
        --mode mor --buckets 1024

or locally: ``python -m read_comp_data_pipeline_spark <cmd> ...``.

Commands:
  generate  — write a deterministic synthetic WAL
  ingest    — replay the WAL into the MERGE table (resumable)
  stream    — same via Structured Streaming (AvailableNow)
  compact   — fold MOR deltas into the base
  compact-sidecars — fold per-epoch manifest/metrics files into
                     consolidated segments (generational, crash-safe)
  vacuum    — expire old snapshots + unreferenced files
  delete    — row-level DELETE FROM … WHERE (GDPR/retention redaction):
              affected buckets rewritten, epoch unchanged (never consumes
              a WAL epoch number; the follow feed delivers the deletion
              with the next epoch's window)
  maintain  — one policy-driven pass: compact / fold sidecars / vacuum,
              each only when its metadata signal says it is due
  show      — table summary (row count, last epoch, manifest tail)
  changes   — changelog emission (CDF): net row-level changes between two
              committed epochs (insert/delete/update before+after images)
  follow    — resumable changelog EXPORT: each run delivers the net
              changes since the last run as one parquet window (cursor-
              tracked, exactly-once; work ∝ changes, not table size)
  replicate — feed CONSUMER: apply a follow feed's unconsumed windows
              into a replica table (the target's epoch watermark is the
              cursor — kill/resume-safe, no consumer bookkeeping)
  requeue   — move permanent dead letters back into the pending retry
              stream (run after the upstream fix ships)
  sync-view — keep a derived aggregate table current from the source's
              changelog (exactly-once, resumable, work ∝ changes)
  rebucket  — partition-spec evolution: rewrite into a new bucket count
              as one committed snapshot
  constraint — declare/drop/list named CHECK expectations over incoming
              WAL rows; violating rows quarantine instead of committing
  tag       — pin the current snapshot under a name (named time travel;
              tagged snapshots and their data survive vacuum)
  rollback  — make an earlier retained snapshot the current state (new
              snapshot commit; recover-and-replay: re-ingesting the WAL
              re-applies every epoch above the rolled-back watermark)
  inspect   — metadata tables (files / partitions / snapshots / schemas):
              per-file rows/bytes/row-groups, per-bucket totals, retained
              snapshot history, field-ID schema generations — no data scan
  alter     — metadata-only column rename / drop (Iceberg-style field IDs:
              no data file is rewritten; old files read through the ID map)
  sort-order — declare the table sort order (metadata-only commit);
              subsequent rewrites cluster rows within buckets so parquet
              row-group zone maps prune value predicates
  history   — all retained versions of one key across snapshots
              (row-granular time travel)
  export    — write a snapshot's full state to plain parquet (current,
              or --epoch/--tag/--version): the reproducible corpus
              extraction step ("which exact state built train-v3" —
              pair with `tag`, which pins the state against vacuum)
  dedup-store  — build the near-dup signature store for a document corpus
  dedup-delta  — near-dup edges of (corpus ∪ delta), banding only the
                 delta against the store at the store's own parameters;
                 optionally fold the delta back in (--update-out) so the
                 next epoch chains
  emb-store    — build the embedding near-dup store (exact-vector
                 seen-set + reps' LSH buckets, partition-pruned per delta)
  emb-delta    — embedding near-dup edges of (corpus ∪ delta), bucketing
                 only the delta against the store at the store's own
                 parameters; --update-out chains
  para-store   — build the corpus's distinct-paragraph seen-set (sha2
                 digests, hash-bucket-partitioned)
  para-delta   — paragraph-dedup a new epoch against the store (epoch
                 precedence), writing reassembled documents; optionally
                 fold the delta's paragraphs in (--update-out)
"""

from __future__ import annotations

import argparse
import json
import sys
import os


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="read_comp_data_pipeline_spark")
    ap.add_argument("--master", default=None, help="override master (else spark-submit's)")
    sub = ap.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("generate")
    g.add_argument("--out", required=True)
    g.add_argument("--events", type=int, required=True)
    g.add_argument("--keys", type=int, default=None)
    g.add_argument("--epoch-size", type=int, default=100_000)
    g.add_argument("--seed", type=int, default=42)

    for name in ("ingest", "stream"):
        p = sub.add_parser(name)
        p.add_argument("--wal", required=True)
        p.add_argument("--table", required=True)
        p.add_argument("--buckets", type=int, default=16)
        p.add_argument("--mode", choices=("cow", "mor"), default="mor")
        p.add_argument("--max-epoch", type=int, default=None)
        p.add_argument("--compact-every", type=int, default=10)
        p.add_argument("--quarantine", action="store_true")
        if name == "ingest":
            p.add_argument(
                "--maintain-every", type=int, default=50,
                help="run vacuum + sidecar folding every N epochs (0 = off)",
            )
            p.add_argument("--keep-snapshots", type=int, default=25)
            p.add_argument(
                "--audit-max-shrink", type=float, default=None,
                help="write-audit-publish: stage each epoch and reject it "
                     "(discard + stop) if the table row count shrinks by "
                     "more than this fraction (mass-delete guard)",
            )
        if name == "stream":
            p.add_argument("--checkpoint", required=True)
            p.add_argument(
                "--audit-max-shrink", type=float, default=None,
                help="write-audit-publish per micro-batch: discard + fail "
                     "the query if the table row count shrinks by more "
                     "than this fraction (restart after the fix re-delivers "
                     "the rejected batch — checkpoint never advanced)",
            )

    for name in ("compact", "compact-sidecars", "vacuum", "show", "requeue"):
        p = sub.add_parser(name)
        p.add_argument("--table", required=True)
        if name == "vacuum":
            p.add_argument("--keep-snapshots", type=int, default=2)

    p = sub.add_parser("delete")
    p.add_argument("--table", required=True)
    p.add_argument("--where", required=True,
                   help="boolean SQL predicate; matching rows are deleted "
                        "(NULL keeps, SQL DELETE semantics). Maintenance "
                        "commit: rewrites affected buckets, epoch unchanged "
                        "— never consumes a WAL epoch number")

    p = sub.add_parser("maintain")
    p.add_argument("--table", required=True)
    p.add_argument("--max-delta-epochs", type=int, default=8,
                   help="fold MOR deltas when more than this many epochs "
                        "are un-compacted (read-amplification bound)")
    p.add_argument("--max-loose-sidecars", type=int, default=64,
                   help="fold manifest/metrics when loose per-epoch files "
                        "exceed this (small-files bound)")
    p.add_argument("--keep-snapshots", type=int, default=25)

    p = sub.add_parser("inspect")
    p.add_argument("--table", required=True)
    p.add_argument("--what", required=True,
                   choices=("files", "partitions", "snapshots", "schemas"),
                   help="metadata table to render (Iceberg files/partitions/"
                        "snapshots/schemas analogue; no data rows scanned)")

    p = sub.add_parser("rebucket")
    p.add_argument("--table", required=True)
    p.add_argument("--buckets", type=int, required=True,
                   help="new bucket count (partition-spec evolution)")

    p = sub.add_parser("alter")
    p.add_argument("--table", required=True)
    p.add_argument("--rename", nargs=2, metavar=("OLD", "NEW"), default=None,
                   help="metadata-only column rename (field ID unchanged; "
                        "no data files rewritten)")
    p.add_argument("--drop", metavar="COLUMN", default=None,
                   help="metadata-only column drop (readers stop projecting "
                        "the field ID; rewrites shed the bytes over time)")

    p = sub.add_parser("sort-order")
    p.add_argument("--table", required=True)
    p.add_argument("--by", nargs="*", default=[],
                   help="sort columns (empty clears the declared order)")
    p.add_argument("--zorder", action="store_true",
                   help="multi-dimensional (Morton-interleaved) clustering "
                        "instead of a linear sort: zone maps stay tight on "
                        "every sort column, not just the leading one")
    p.add_argument("--bits", type=int, default=6,
                   help="z-order bucket resolution per column (2^bits "
                        "equi-depth buckets, sampled at declaration time)")

    p = sub.add_parser("constraint")
    p.add_argument("--table", required=True)
    p.add_argument("--set", nargs=2, metavar=("NAME", "EXPR"), default=None,
                   help="declare/replace a CHECK expectation (boolean SQL)")
    p.add_argument("--drop", metavar="NAME", default=None)

    p = sub.add_parser("tag")
    p.add_argument("--table", required=True)
    p.add_argument("--set", metavar="NAME", default=None,
                   help="pin the current snapshot under NAME (vacuum-proof)")
    p.add_argument("--drop", metavar="NAME", default=None)

    p = sub.add_parser("rollback")
    p.add_argument("--table", required=True)
    p.add_argument("--version", type=int, default=None,
                   help="roll back to this snapshot version")
    p.add_argument("--epoch", type=int, default=None,
                   help="roll back to the state as of this committed epoch")
    p.add_argument("--tag", default=None, help="roll back to a tagged snapshot")

    p = sub.add_parser("export")
    p.add_argument("--table", required=True)
    p.add_argument("--out", required=True, help="parquet output directory")
    p.add_argument("--epoch", type=int, default=None,
                   help="export the state as of this committed epoch")
    p.add_argument("--tag", default=None, help="export a tagged snapshot")
    p.add_argument("--version", type=int, default=None,
                   help="export this snapshot version")

    p = sub.add_parser("history")
    p.add_argument("--table", required=True)
    p.add_argument("--repo", required=True)
    p.add_argument("--path", required=True)

    p = sub.add_parser("sync-view")
    p.add_argument("--table", required=True, help="source HashMergeTable")
    p.add_argument("--view", required=True, help="derived view table path")
    p.add_argument("--group-by", required=True,
                   help="comma-separated group columns (e.g. repo)")
    p.add_argument("--sum", default=None,
                   help="comma-separated src:alias sum columns "
                        "(e.g. n_tokens:sum_tokens)")
    p.add_argument("--buckets", type=int, default=4)

    p = sub.add_parser("follow")
    p.add_argument("--table", required=True)
    p.add_argument("--out", required=True,
                   help="feed directory: each run exports the net changes "
                        "since the last run as one parquet window and "
                        "advances the cursor (resumable, exactly-once)")

    p = sub.add_parser("replicate")
    p.add_argument("--feed", required=True, help="follow feed directory")
    p.add_argument("--table", required=True, help="replica table path")
    p.add_argument("--buckets", type=int, default=16)
    p.add_argument("--mode", choices=("cow", "mor"), default="mor")
    p.add_argument("--key-cols", default=None,
                   help="comma-separated key columns for a NEW replica — "
                        "must match the source table's keys (default: "
                        "repo,path)")

    p = sub.add_parser("changes")
    p.add_argument("--table", required=True)
    p.add_argument("--from-epoch", type=int, required=True,
                   help="emit changes AFTER this committed epoch")
    p.add_argument("--to-epoch", type=int, default=None,
                   help="up to this epoch (default: current snapshot)")
    p.add_argument("--out", default=None, help="write the change rows here")

    for name in ("dedup-store", "dedup-delta"):
        p = sub.add_parser(name)
        p.add_argument("--docs", required=True, help="parquet dir of (doc_id, text) rows")
        p.add_argument("--store", required=True)
        p.add_argument("--id-col", default="doc_id")
        p.add_argument("--text-col", default="text")
        if name == "dedup-store":
            p.add_argument("--ngram", type=int, default=5)
            p.add_argument("--minhashes", type=int, default=16)
            p.add_argument("--bands", type=int, default=4)
            p.add_argument("--threshold", type=float, default=0.7)
        else:
            p.add_argument("--edges-out", default=None,
                           help="write the (id_a, id_b, jaccard) edge set here")
            p.add_argument("--update-out", default=None,
                           help="also fold the delta into a new store at this path")

    for name in ("emb-store", "emb-delta"):
        p = sub.add_parser(name)
        p.add_argument("--vecs", required=True, help="parquet dir of (vec_id, embedding) rows")
        p.add_argument("--store", required=True)
        p.add_argument("--id-col", default="vec_id")
        p.add_argument("--vec-col", default="embedding")
        if name == "emb-store":
            p.add_argument("--planes", type=int, default=6)
            p.add_argument("--dim", type=int, default=64)
            p.add_argument("--threshold", type=float, default=0.30)
        else:
            p.add_argument("--edges-out", default=None,
                           help="write the (id_a, id_b, cosine) edge set here")
            p.add_argument("--update-out", default=None,
                           help="also fold the delta into a new store at this path")

    for name in ("para-store", "para-delta"):
        p = sub.add_parser(name)
        p.add_argument("--docs", required=True, help="parquet dir of (doc_id, text) rows")
        p.add_argument("--store", required=True)
        p.add_argument("--id-col", default="doc_id")
        p.add_argument("--text-col", default="text")
        if name == "para-delta":
            p.add_argument("--out", required=True,
                           help="write (doc_id, n_paras, n_kept, cleaned_text) here")
            p.add_argument("--update-out", default=None,
                           help="also fold the delta's paragraphs into a new store")

    args = ap.parse_args(argv)

    from read_comp_data_pipeline_spark.session import get_spark

    spark = get_spark("rcdp-" + args.cmd, master=args.master)

    if args.cmd == "generate":
        from read_comp_data_pipeline_spark.sources.wal import (
            generate_change_events,
            write_wal,
        )

        write_wal(
            generate_change_events(
                spark, args.events, n_keys=args.keys,
                epoch_size=args.epoch_size, seed=args.seed,
            ),
            args.out,
        )
        print(json.dumps({"written": args.out, "events": args.events}))
    elif args.cmd == "ingest":
        from read_comp_data_pipeline_spark.streaming.ingest import run_ingest

        st = run_ingest(
            spark, args.wal, args.table, n_buckets=args.buckets,
            max_epoch=args.max_epoch, mode=args.mode,
            compact_every=args.compact_every, quarantine=args.quarantine,
            maintain_every=args.maintain_every or None,
            keep_snapshots=args.keep_snapshots,
            audit_max_shrink=args.audit_max_shrink,
        )
        print(json.dumps({
            "epochs_applied": st.epochs_applied,
            "epochs_skipped": st.epochs_skipped,
            "events_applied": st.events_applied,
            "secs": round(st.secs, 2),
            "events_per_sec": round(st.events_per_sec, 1),
            **({"rejected_epoch": st.rejected_epoch,
                "reject_reason": st.reject_reason}
               if st.rejected_epoch is not None else {}),
        }))
    elif args.cmd == "stream":
        from read_comp_data_pipeline_spark.streaming.stream import stream_ingest

        stream_ingest(
            spark, args.wal, args.table, checkpoint_path=args.checkpoint,
            n_buckets=args.buckets, mode=args.mode,
            audit_max_shrink=args.audit_max_shrink,
        )
        print(json.dumps({"done": True}))
    elif args.cmd == "compact":
        from read_comp_data_pipeline_spark.operators.merge import HashMergeTable

        print(json.dumps(HashMergeTable(spark, args.table).compact_table()))
    elif args.cmd == "compact-sidecars":
        from read_comp_data_pipeline_spark.operators.merge import HashMergeTable

        print(json.dumps(HashMergeTable(spark, args.table).compact_sidecars()))
    elif args.cmd == "vacuum":
        from read_comp_data_pipeline_spark.operators.merge import HashMergeTable

        print(json.dumps(HashMergeTable(spark, args.table).vacuum(args.keep_snapshots)))
    elif args.cmd == "rebucket":
        from read_comp_data_pipeline_spark.operators.merge import HashMergeTable

        print(json.dumps(HashMergeTable(spark, args.table).rebucket(args.buckets)))
    elif args.cmd == "delete":
        from read_comp_data_pipeline_spark.operators.merge import HashMergeTable

        print(json.dumps(HashMergeTable(spark, args.table).delete_where(args.where)))
    elif args.cmd == "maintain":
        from read_comp_data_pipeline_spark.operators.merge import HashMergeTable

        print(json.dumps(HashMergeTable(spark, args.table).maintain(
            max_delta_epochs=args.max_delta_epochs,
            max_loose_sidecars=args.max_loose_sidecars,
            keep_snapshots=args.keep_snapshots,
        )))
    elif args.cmd == "inspect":
        from read_comp_data_pipeline_spark.operators.merge import HashMergeTable

        df = HashMergeTable(spark, args.table).inspect(args.what)
        print(json.dumps({"inspect": args.what, "rows": df.count()}))
        df.show(50, truncate=False)
    elif args.cmd == "alter":
        from read_comp_data_pipeline_spark.operators.merge import HashMergeTable

        if (args.rename is None) == (args.drop is None):
            raise SystemExit("alter: pass exactly one of --rename OLD NEW / --drop COLUMN")
        t = HashMergeTable(spark, args.table)
        if args.rename is not None:
            print(json.dumps(t.rename_column(args.rename[0], args.rename[1])))
        else:
            print(json.dumps(t.drop_column(args.drop)))
    elif args.cmd == "sort-order":
        from read_comp_data_pipeline_spark.operators.merge import HashMergeTable

        print(json.dumps(HashMergeTable(spark, args.table).set_sort_order(
            args.by, zorder=args.zorder, bits=args.bits,
        )))
    elif args.cmd == "constraint":
        from read_comp_data_pipeline_spark.operators.merge import HashMergeTable

        t = HashMergeTable(spark, args.table)
        if args.set is not None:
            print(json.dumps(t.set_constraint(args.set[0], args.set[1])))
        elif args.drop is not None:
            print(json.dumps(t.drop_constraint(args.drop)))
        else:
            print(json.dumps({"constraints": t.constraints}))
    elif args.cmd == "tag":
        from read_comp_data_pipeline_spark.operators.merge import HashMergeTable

        t = HashMergeTable(spark, args.table)
        if args.set is not None:
            print(json.dumps(t.set_tag(args.set)))
        elif args.drop is not None:
            print(json.dumps(t.drop_tag(args.drop)))
        else:
            print(json.dumps({"tags": t.tags()}))
    elif args.cmd == "rollback":
        from read_comp_data_pipeline_spark.operators.merge import HashMergeTable

        t = HashMergeTable(spark, args.table)
        print(json.dumps(t.rollback(
            version=args.version, epoch=args.epoch, tag=args.tag,
        )))
    elif args.cmd == "export":
        from read_comp_data_pipeline_spark.operators.merge import HashMergeTable

        t = HashMergeTable(spark, args.table)
        if sum(x is not None for x in (args.epoch, args.tag, args.version)) > 1:
            raise SystemExit("export: pass at most one of --epoch/--tag/--version")
        if args.tag is not None:
            snap = t.snapshot_by_tag(args.tag)
        elif args.epoch is not None:
            snap = t.snapshot_at_epoch(args.epoch)
        elif args.version is not None:
            matches = [s for s in t.snapshots() if int(s["version"]) == args.version]
            if not matches:
                raise SystemExit(f"no retained snapshot with version {args.version}")
            snap = matches[0]
        else:
            snap = t._snapshot()
        t.read(at_snapshot=snap).write.mode("overwrite").parquet(args.out)
        print(json.dumps({
            "out": args.out,
            "rows": spark.read.parquet(args.out).count(),
            "epoch": int(snap["epoch"]),
            "version": int(snap["version"]),
        }))
    elif args.cmd == "history":
        from read_comp_data_pipeline_spark.operators.merge import HashMergeTable

        t = HashMergeTable(spark, args.table)
        hist = t.key_history({"repo": args.repo, "path": args.path})
        rows = [
            {"version": r["_version"], "epoch": r["_epoch"], "seq": r["seq"],
             "commit": r["commit"], "content_sha": r["content_sha"]}
            for r in hist.select("_version", "_epoch", "seq", "commit", "content_sha")
            .orderBy("_version").collect()
        ]
        print(json.dumps({"repo": args.repo, "path": args.path, "versions": rows}))
    elif args.cmd == "sync-view":
        from read_comp_data_pipeline_spark.operators.matview import sync_agg_view
        from read_comp_data_pipeline_spark.operators.merge import HashMergeTable

        sums = {}
        if args.sum:
            for part in args.sum.split(","):
                src_c, _, alias = part.partition(":")
                sums[src_c] = alias or f"sum_{src_c}"
        src_t = HashMergeTable(spark, args.table)
        view = sync_agg_view(
            spark, src_t, args.view,
            group_cols=args.group_by.split(","),
            sum_cols=sums, n_buckets=args.buckets,
        )
        print(json.dumps({
            "view": args.view,
            "at_epoch": view.last_epoch,
            "groups": view.read().count(),
        }))
    elif args.cmd == "requeue":
        from read_comp_data_pipeline_spark.streaming.ingest import requeue_dead_letters

        print(json.dumps(requeue_dead_letters(spark, args.table)))
    elif args.cmd == "follow":
        from read_comp_data_pipeline_spark.operators.changefeed import follow_changes
        from read_comp_data_pipeline_spark.operators.merge import HashMergeTable

        print(json.dumps(follow_changes(spark, HashMergeTable(spark, args.table), args.out)))
    elif args.cmd == "replicate":
        from read_comp_data_pipeline_spark.operators.changefeed import replicate_feed

        print(json.dumps(replicate_feed(
            spark, args.feed, args.table, n_buckets=args.buckets, mode=args.mode,
            key_cols=args.key_cols.split(",") if args.key_cols else None,
        )))
    elif args.cmd == "changes":
        from read_comp_data_pipeline_spark.operators.merge import HashMergeTable

        t = HashMergeTable(spark, args.table)
        snap_a = t.snapshot_at_epoch(args.from_epoch)
        snap_b = t.snapshot_at_epoch(args.to_epoch) if args.to_epoch is not None else None
        ch = t.changes_between(snap_a, snap_b)
        if args.out:
            ch.write.mode("overwrite").parquet(args.out)
            ch = spark.read.parquet(args.out)
        from pyspark.sql import functions as F

        counts = {
            r["_change_type"]: r["n"]
            for r in ch.groupBy("_change_type").agg(F.count("*").alias("n")).collect()
        }
        print(json.dumps({
            "from_epoch": args.from_epoch,
            "to_epoch": args.to_epoch if args.to_epoch is not None else t.last_epoch,
            "changes": counts,
            **({"out": args.out} if args.out else {}),
        }))
    elif args.cmd == "dedup-store":
        from read_comp_data_pipeline_spark.operators.dedup import build_signature_store

        docs = spark.read.parquet(args.docs)
        build_signature_store(
            docs, args.store, text_col=args.text_col, id_col=args.id_col,
            n=args.ngram, k=args.minhashes, bands=args.bands,
            threshold=args.threshold,
        )
        print(json.dumps({"store": args.store, "docs": docs.count()}))
    elif args.cmd == "dedup-delta":
        from read_comp_data_pipeline_spark.operators.dedup import (
            incremental_near_dups,
            update_signature_store,
        )

        delta = spark.read.parquet(args.docs)
        kw = dict(text_col=args.text_col, id_col=args.id_col)
        edges = incremental_near_dups(delta, args.store, **kw)
        if args.edges_out:
            edges.write.mode("overwrite").parquet(args.edges_out)
            n_edges = spark.read.parquet(args.edges_out).count()
        else:
            n_edges = edges.count()
        out = {"edges": n_edges, "delta_docs": delta.count()}
        if args.update_out:
            update_signature_store(delta, args.store, args.update_out, **kw)
            out["updated_store"] = args.update_out
        print(json.dumps(out))
    elif args.cmd == "emb-store":
        from read_comp_data_pipeline_spark.operators.similarity import (
            build_embedding_store,
        )

        vecs = spark.read.parquet(args.vecs)
        build_embedding_store(
            vecs, args.store, id_col=args.id_col, vec_col=args.vec_col,
            n_planes=args.planes, dim=args.dim, threshold=args.threshold,
        )
        print(json.dumps({"store": args.store, "vectors": vecs.count()}))
    elif args.cmd == "emb-delta":
        from read_comp_data_pipeline_spark.operators.similarity import (
            incremental_embedding_near_dups,
            update_embedding_store,
        )

        delta = spark.read.parquet(args.vecs)
        kw = dict(id_col=args.id_col, vec_col=args.vec_col)
        edges = incremental_embedding_near_dups(delta, args.store, **kw)
        if args.edges_out:
            edges.write.mode("overwrite").parquet(args.edges_out)
            n_edges = spark.read.parquet(args.edges_out).count()
        else:
            n_edges = edges.count()
        out = {"edges": n_edges, "delta_vectors": delta.count()}
        if args.update_out:
            update_embedding_store(delta, args.store, args.update_out, **kw)
            out["updated_store"] = args.update_out
        print(json.dumps(out))
    elif args.cmd == "para-store":
        from read_comp_data_pipeline_spark.operators.paragraphs import (
            build_paragraph_store,
        )

        docs = spark.read.parquet(args.docs)
        build_paragraph_store(docs, args.store, text_col=args.text_col,
                              id_col=args.id_col)
        print(json.dumps({"store": args.store, "docs": docs.count()}))
    elif args.cmd == "para-delta":
        from read_comp_data_pipeline_spark.operators.paragraphs import (
            paragraph_dedup_incremental,
            update_paragraph_store,
        )

        delta = spark.read.parquet(args.docs)
        kw = dict(text_col=args.text_col, id_col=args.id_col)
        cleaned = paragraph_dedup_incremental(delta, args.store, **kw)
        cleaned.write.mode("overwrite").parquet(args.out)
        out = {"out": args.out, "delta_docs": spark.read.parquet(args.out).count()}
        if args.update_out:
            update_paragraph_store(delta, args.store, args.update_out, **kw)
            out["updated_store"] = args.update_out
        print(json.dumps(out))
    elif args.cmd == "show":
        from read_comp_data_pipeline_spark.operators.merge import HashMergeTable

        t = HashMergeTable(spark, args.table)
        snap = t._snapshot()
        staged = t.staged_snapshot()
        audits = os.path.join(args.table, "audits")
        # audit records only, not the temp file of an interrupted write
        rejected = sum(
            n.startswith("e") and n.endswith(".json")
            for n in (os.listdir(audits) if os.path.isdir(audits) else [])
        )
        print(json.dumps({
            "rows": t.read().count(),
            "last_epoch": t.last_epoch,
            "n_buckets": t.n_buckets,
            "schema": [f.name for f in t.schema.fields],
            "mode": snap.get("mode", "cow"),
            "sort_order": snap.get("sort_order") or [],
            **({"sort_strategy": snap["sort_strategy"]}
               if snap.get("sort_order") and snap.get("sort_strategy") else {}),
            "constraints": snap.get("constraints") or {},
            "tags": t.tags(),
            **({"timeline": int(snap["timeline"])} if snap.get("timeline") else {}),
            **({"staged_epoch": int(staged["epoch"])} if staged else {}),
            **({"audit_rejections": rejected} if rejected else {}),
        }))
        t.manifest().orderBy("epoch", "partition").show(20, truncate=False)
    return 0


if __name__ == "__main__":
    sys.exit(main())
