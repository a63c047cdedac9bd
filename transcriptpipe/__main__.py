"""CLI entry point — the spark-submit analog of the reference's single-shot
converter (`aushape audit.log`, /root/reference/src/aushape.c:121-210;
option surface /root/reference/lib/conf.c:31-81).

    spark-submit --py-files transcriptpipe.zip -m ... OR
    python -m transcriptpipe INPUT_PARQUET -O OUT_DIR [options]

Option mapping (reference → here):

    -l/--lang            → selects which doc language the run builds AND
                           writes (json, xml, or both); a deselected
                           language's sinks are never constructed and its
                           render work is skipped inside the kernel
    --events-per-doc     → none / all / N / -BYTES (format.h:52-59), adds the
                           batched json_log/xml_log sinks when set
    --max-event-size     → --max-doc-bytes (trim cap; format.h:60-63)
    --with-text          → --no-text to disable (P5; default on, like -t)
    --with-norm          → --with-norm (norm{} section)
    --fold/--indent      → --fold {none,all,N} / --indent N (F8 fold
                           semantics, lib/conf.c:43-70 + gbuf.c:242-280;
                           defaults conf.c:183-190). Omitted = canonical
                           compact docs (the comparison target)
    -o/--output/syslog   → sinks are parquet directories under --out; the
                           output vtable analog is sinks.py/route.py
    (new) --stream       → Structured Streaming drain over a file source
    (new) --run-id       → resumable exactly-once run (snapshot manifest)
"""

from __future__ import annotations

import argparse
import sys


def parse_events_per_doc(s: str):
    if s == "none":
        return 0
    if s == "all":
        return "all"
    return int(s)


def parse_size(s: str) -> int | None:
    """--max-doc-bytes value grammar, matching the reference's
    --max-event-size (conf.c:56-63): N bytes, Nk kilobytes, Nm megabytes,
    "unlimited" -> no cap. The reference's 1024-byte minimum applies."""
    if s == "unlimited":
        return None
    mult = 1
    if s and s[-1] in "kK":
        mult, s = 1024, s[:-1]
    elif s and s[-1] in "mM":
        mult, s = 1024 * 1024, s[:-1]
    n = int(s) * mult
    if n < 1024:
        raise ValueError(f"--max-doc-bytes minimum is 1024 (got {n})")
    return n


def parse_fold(s: str) -> int:
    """--fold value grammar (ref conf.c:43-70): "none" = unfold fully (a
    level no doc nesting reaches), "all" = fold everything (compact),
    N = unfold nesting levels <= N.  An argparse `type` callable so a bad
    value ("--fold=deep") yields a usage error, not a traceback."""
    lvl = {"none": 1 << 30, "all": 0}.get(s)
    if lvl is None:
        try:
            lvl = int(s)
        except ValueError:
            raise argparse.ArgumentTypeError(
                f'expected "none", "all", or an integer level (got {s!r})')
    return lvl


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="transcriptpipe",
        description="transcripts → coalesced event documents (aushape-analog "
                    "pipeline on PySpark)",
    )
    p.add_argument("input", help="input transcripts parquet path")
    p.add_argument("-O", "--out", required=True, help="output warehouse dir")
    p.add_argument("-l", "--lang", choices=["json", "xml", "both"], default="both")
    p.add_argument("--events-per-doc", default=None,
                   help='"none", "all", N (count), or negative bytes budget')
    p.add_argument("-v", "--version", action="version",
                   version="transcriptpipe 0.4")
    p.add_argument("--max-doc-bytes", type=parse_size, default=8192,
                   help='trim cap per event doc: N, Nk, Nm, or "unlimited" '
                        "(reference --max-event-size grammar, min 1024)")
    p.add_argument("--max-turns-per-conv", type=int, default=2048)
    p.add_argument("--no-text", action="store_true",
                   help="exclude source text from docs (reference default; "
                        "--with-text inverse)")
    p.add_argument("--with-norm", action="store_true",
                   help="include normalized summary section")
    p.add_argument("--fold", type=parse_fold, default=None, metavar="LEVEL",
                   help='pretty-print docs: "none" unfolds fully, "all" '
                        'folds everything (compact), N unfolds nesting '
                        "levels <= N (reference --fold, default: no "
                        "re-render — canonical compact)")
    p.add_argument("--indent", type=int, default=4,
                   help="spaces per nesting level when folding "
                        "(reference --indent default 4)")
    p.add_argument("--engine", choices=["arrow", "sql"],
                   default="arrow",
                   help="render engine. arrow: fused Python-kernel Arrow "
                        "stage (fastest); sql: all-JVM relational engine "
                        "(no Python workers)")
    p.add_argument("--run-id", default=None,
                   help="resumable run id (default: derived from input)")
    p.add_argument("--stream", action="store_true",
                   help="drain the input dir via Structured Streaming instead "
                        "of batch (EOE-driven stateful coalesce)")
    p.add_argument("--watermark", default=None,
                   help='streaming late-data watermark, e.g. "10 minutes"')
    p.add_argument("--cpus", type=int, default=None)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    from . import pipeline, sinks
    from .session import get_spark

    spark = get_spark(app_name="transcriptpipe-cli", cpus=args.cpus)

    if args.stream:
        from . import streaming

        # stream mode honors the rendering options via the shared kernel;
        # options it cannot honor are rejected loudly, not ignored
        for opt, flag in ((args.events_per_doc, "--events-per-doc"),
                          (args.run_id, "--run-id"),
                          (args.fold, "--fold")):
            if opt is not None:
                print(f"warning: {flag} is ignored in --stream mode",
                      file=sys.stderr)
        lang = args.lang
        if lang == "both":
            # one streaming query drives one sink; two languages = two
            # queries with separate checkpoints (or batch mode) — default
            # to json, as before, and say so
            print("warning: --stream emits ONE doc sink per query; "
                  "streaming json (run again with --lang xml for the "
                  "xml sink, or use batch mode for both)", file=sys.stderr)
            lang = "json"
        sink = f"{lang}_doc"
        ckpt = f"{args.out}/_checkpoint_{lang}"
        # 0.3 -> 0.4 migration guard: 0.3 streams checkpointed at
        # {out}/_checkpoint (one lang-less path) and wrote a doc schema
        # without the xml column.  Starting a 0.4 stream over such an out
        # dir would silently begin a FRESH checkpoint and re-append every
        # input doc into the existing sink — fail loudly instead (see
        # README "Upgrading" table).
        import os

        legacy_ckpt = os.path.join(args.out, "_checkpoint")
        if os.path.isdir(legacy_ckpt):
            print(
                f"error: legacy 0.3 stream checkpoint found at {legacy_ckpt}; "
                f"0.4 checkpoints at {ckpt} and its doc schema adds the xml "
                "column, so resuming would reprocess all input and append "
                "duplicate docs. Either drain into a NEW --out dir, or (to "
                "accept a one-time rebuild) delete the old checkpoint AND "
                f"the {sink} sink dir, then rerun.",
                file=sys.stderr,
            )
            return 2
        streaming.run_stream_once(
            spark, args.input, f"{args.out}/{sink}", ckpt,
            watermark=args.watermark,
            max_turns_per_conv=args.max_turns_per_conv,
            with_text=not args.no_text, with_norm=args.with_norm,
            max_doc_bytes=args.max_doc_bytes,
            lang=lang,
        )
        print(f"streamed -> {args.out}/{sink}", file=sys.stderr)
        return 0

    if args.watermark is not None:
        print("warning: --watermark only applies to --stream mode", file=sys.stderr)
    langs = ("json", "xml") if args.lang == "both" else (args.lang,)
    conf = pipeline.PipeConf(
        max_doc_bytes=args.max_doc_bytes,
        max_turns_per_conv=args.max_turns_per_conv,
        with_text=not args.no_text,
        with_norm=args.with_norm,
        engine=args.engine,
        doc_batch=(parse_events_per_doc(args.events_per_doc)
                   if args.events_per_doc is not None else None),
        langs=langs,
        fold_level=args.fold,
        indent=args.indent,
    )
    run_id = args.run_id or "cli-" + args.input.strip("/").replace("/", "_")[-40:]
    catalog = sinks.SinkCatalog(args.out)
    # deployment artifact for a search sink (the reference installs
    # lib/aushape.mapping.json alongside its outputs)
    import os

    from . import docschema

    docschema.write_es_mapping(os.path.join(args.out, "_es_mapping.json"))
    tdf = spark.read.parquet(args.input)
    # deselected languages are never built or written (their render work is
    # skipped inside the kernel) — ref -l semantics, lib/conf.c:31-81
    results = pipeline.run(spark, tdf, catalog, run_id, conf)
    for name, snap in results.items():
        print(f"{name}: {snap or 'already-committed'}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
