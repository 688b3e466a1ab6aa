"""Option surface of the ``fluvio_consume`` table function.

Re-expresses the reference's clap-based ``ConsumeOpt`` (reference
src/consume.rs:466-571) as argparse over the same flag names, conflict
groups, and defaults, including:

- offset positioning: ``-B/--beginning``, ``-H/--head N``, ``-T/--tail N``,
  ``--start N`` (mutually exclusive), ``--end N`` (inclusive upper bound)
  — reference src/consume.rs:484-505, resolution logic :580-605.
- ``--rows`` scan budget (default 1000) — reference src/consume.rs:500-501.
- partition selection ``-p/--partition`` (default 0) vs
  ``-A/--all-partitions`` (conflicting) — reference src/consume.rs:472-478.
  NOTE the reference parses these but then pins partition 0
  (src/consume.rs:179); we honor them (documented fix, SURVEY §1.4.2).
- SmartModule surface: ``--smartmodule/--sm``, ``--smartmodule-path``,
  ``--transforms-file``, ``-t/--transform`` (conflict rules preserved),
  ``-e/--params k=v`` (requires a smartmodule), ``--aggregate-initial``
  (requires an aggregate-capable smartmodule) — reference
  src/consume.rs:507-560.
- transport/isolation knobs ``-b/--maxbytes``, ``--isolation`` — accepted
  for surface compatibility (reference src/consume.rs:507-509, :529-533);
  they tune fetch behavior, not query semantics.
- column mappings ``-c/--columns name[:code]=json.path`` — reference
  src/consume.rs:562-570.
- ``--help`` propagates usage text as the error payload, mirroring the
  reference where the clap error string becomes the DuckDB bind error
  (reference src/consume.rs:574-578).

Crossing-offset validation (``--end`` < ``--start``) mirrors reference
src/consume.rs:580-590.
"""

from __future__ import annotations

import argparse
import numbers
import shlex
from dataclasses import dataclass, field

_ISOLATION_LEVELS = {"read_committed", "read_uncommitted"}


class ConsumeOptError(ValueError):
    """Raised for any option-parse or validation failure.

    ``str(exc)`` carries the usage/help text when the failure came from
    argparse — the analogue of the reference surfacing clap's rendered
    error through ``bind_info.set_error``.
    """


@dataclass(frozen=True)
class StartPosition:
    """Resolved start offset, the analogue of ``Offset`` in the reference
    (``calculate_offset``, reference src/consume.rs:580-605)."""

    kind: str  # beginning | head | start | tail | end
    n: int = 0


@dataclass
class ConsumeOptions:
    topic: str
    partition: int = 0
    all_partitions: bool = False
    # Reference quirk (SURVEY §1.4.5): the field is "enable_continuous" but
    # the -d flag's behavior is: default = bounded read, -d = continuous.
    # We model the *behavior*: continuous=False by default; -d sets it True.
    continuous: bool = False
    beginning: bool = False
    head: int | None = None
    tail: int | None = None
    start: int | None = None
    rows: int = 1000
    end: int | None = None
    max_bytes: int | None = None
    isolation: str | None = None
    smartmodule: str | None = None
    smartmodule_path: str | None = None
    transforms_file: str | None = None
    transform: list[str] = field(default_factory=list)
    params: list[tuple[str, str]] = field(default_factory=list)
    aggregate_initial: str | None = None
    columns: list[tuple[str, str]] = field(default_factory=list)

    def calculate_start(self) -> StartPosition:
        """Resolve the starting position; validates crossing offsets
        (reference src/consume.rs:580-605)."""
        if self.end is not None and self.start is not None and self.end < self.start:
            raise ConsumeOptError(
                "Argument end-offset must be greater than or equal to specified start offset"
            )
        if self.beginning:
            return StartPosition("beginning")
        if self.head is not None:
            return StartPosition("head", self.head)
        if self.start is not None:
            return StartPosition("start", self.start)
        if self.tail is not None:
            return StartPosition("tail", self.tail)
        return StartPosition("end")

    def window(self, leo, rows: bool = True) -> tuple:
        """The half-open ``[lo, hi)`` window these options select from one
        dense offset sequence (``hi`` None = unbounded): the start
        position gives ``lo``, ``--end`` (inclusive) and, when ``rows``,
        the ``--rows`` budget give ``hi``.  ``leo`` is the sequence's
        log-end offset, or a zero-argument callable returning it, called
        only when the start anchors on the log end (``-T`` / default).
        The log end may also be a Column (a DataFrame builder's LEO
        aggregate): the bounds anchored on it are then Columns too."""
        start = self.calculate_start()
        lo = start.n if start.kind in ("head", "start") else 0
        least, greatest = min, max
        if start.kind in ("tail", "end"):
            end = leo() if callable(leo) else leo
            if not isinstance(end, numbers.Integral):
                from pyspark.sql import functions as F

                def least(a, b):
                    return F.least(F.lit(a), F.lit(b))

                def greatest(a, b):
                    return F.greatest(F.lit(a), F.lit(b))

            lo = end if start.kind == "end" else greatest(end - start.n, 0)
        hi = None if self.end is None else self.end + 1
        if rows and self.rows is not None:
            hi = lo + self.rows if hi is None else least(hi, lo + self.rows)
        return lo, hi

    @property
    def has_smartmodule(self) -> bool:
        return self.smartmodule is not None or self.smartmodule_path is not None


class _Parser(argparse.ArgumentParser):
    """argparse that raises ConsumeOptError instead of exiting the process."""

    def error(self, message: str) -> None:  # noqa: D102
        raise ConsumeOptError(f"{message}\n\n{self.format_usage()}")

    def exit(self, status: int = 0, message: str | None = None) -> None:  # noqa: D102
        raise ConsumeOptError(message or self.format_help())


class _HelpAction(argparse.Action):
    def __call__(self, parser, namespace, values, option_string=None):
        # --help returns the rendered usage as the error payload, like the
        # reference propagating clap's help through the bind error.
        raise ConsumeOptError(parser.format_help())


def _key_val(raw: str) -> tuple[str, str]:
    if "=" not in raw:
        raise argparse.ArgumentTypeError(f"invalid KEY=value: no `=` found in `{raw}`")
    key, _, value = raw.partition("=")
    return key, value


def _isolation(raw: str) -> str:
    # accepts the same spellings as the reference's parse_isolation
    # (src/consume.rs:705-711): read_committed / ReadCommitted / ...
    norm = raw.strip().lower().replace("_", "")
    if norm == "readcommitted":
        return "read_committed"
    if norm == "readuncommitted":
        return "read_uncommitted"
    raise argparse.ArgumentTypeError(
        f"unrecognized isolation: {raw}. Supported: read_committed, read_uncommitted"
    )


def _non_negative(raw: str) -> int:
    value = int(raw)
    if value < 0:
        raise argparse.ArgumentTypeError(f"expected a non-negative integer, got {raw}")
    return value


def build_parser() -> _Parser:
    parser = _Parser(prog="fluvio_consume", add_help=False, description=__doc__)
    parser.add_argument("--help", "-h", nargs=0, action=_HelpAction)
    parser.add_argument("topic", metavar="topic", help="Topic name")
    parser.add_argument("-p", "--partition", type=_non_negative, default=0)
    parser.add_argument("-A", "--all-partitions", action="store_true", dest="all_partitions")
    parser.add_argument("-d", "--disable-continuous", action="store_true", dest="continuous_flag")
    position = parser.add_mutually_exclusive_group()
    position.add_argument("-B", "--beginning", action="store_true")
    position.add_argument("-H", "--head", type=_non_negative, default=None)
    position.add_argument("-T", "--tail", type=_non_negative, default=None)
    position.add_argument("--start", type=_non_negative, default=None)
    parser.add_argument("--rows", type=_non_negative, default=1000)
    parser.add_argument("--end", type=_non_negative, default=None)
    parser.add_argument("-b", "--maxbytes", type=int, default=None, dest="max_bytes")
    parser.add_argument("--isolation", type=_isolation, default=None)
    parser.add_argument("--smartmodule", "--sm", default=None)
    parser.add_argument("--smartmodule-path", "--sm_path", default=None, dest="smartmodule_path")
    parser.add_argument("--transforms-file", default=None, dest="transforms_file")
    parser.add_argument("-t", "--transform", action="append", default=[])
    parser.add_argument("-e", "--params", action="append", type=_key_val, default=[])
    parser.add_argument("--aggregate-initial", "--a-init", default=None, dest="aggregate_initial")
    parser.add_argument("-c", "--columns", action="append", type=_key_val, default=[])
    return parser


def parse_consume_opts(opt_string: str | list[str]) -> ConsumeOptions:
    """Parse a CLI-style option string, e.g.
    ``"helsinki -B --rows=500 -c speed:d=speed"``.

    The reference wraps the string and hands it to clap
    (``parse_from_string``, reference src/consume.rs:574-578); we shlex it
    and hand it to argparse, then enforce the conflict groups clap encoded
    declaratively.
    """
    argv = shlex.split(opt_string) if isinstance(opt_string, str) else list(opt_string)
    parser = build_parser()
    ns = parser.parse_args(argv)

    # clap conflict groups that argparse can't express declaratively:
    if ns.all_partitions and "-p" in argv or ns.all_partitions and "--partition" in argv:
        raise ConsumeOptError("--all-partitions conflicts with --partition")
    has_sm = ns.smartmodule is not None or ns.smartmodule_path is not None
    if ns.smartmodule is not None and ns.smartmodule_path is not None:
        raise ConsumeOptError("--smartmodule conflicts with --smartmodule-path")
    if ns.transforms_file is not None and has_sm:
        raise ConsumeOptError("--transforms-file conflicts with smartmodule options")
    if ns.transform and (has_sm or ns.transforms_file is not None):
        raise ConsumeOptError("--transform conflicts with smartmodule/--transforms-file options")
    if ns.params and not has_sm:
        raise ConsumeOptError("-e/--params requires a smartmodule option")
    if ns.aggregate_initial is not None and not has_sm:
        raise ConsumeOptError("--aggregate-initial requires an aggregate smartmodule option")

    opts = ConsumeOptions(
        topic=ns.topic,
        partition=ns.partition,
        all_partitions=ns.all_partitions,
        continuous=ns.continuous_flag,
        beginning=ns.beginning,
        head=ns.head,
        tail=ns.tail,
        start=ns.start,
        rows=ns.rows,
        end=ns.end,
        max_bytes=ns.max_bytes,
        isolation=ns.isolation,
        smartmodule=ns.smartmodule,
        smartmodule_path=ns.smartmodule_path,
        transforms_file=ns.transforms_file,
        transform=list(ns.transform),
        params=list(ns.params),
        aggregate_initial=ns.aggregate_initial,
        columns=list(ns.columns),
    )
    opts.calculate_start()  # validate crossing offsets eagerly, like bind()
    return opts
