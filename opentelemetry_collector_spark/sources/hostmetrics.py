"""hostmetricsreceiver as a batch parse stage: /proc-format scrape
snapshots (text columns) → the receiver's exact metric datapoints.

The reference receiver (receiver/hostmetricsreceiver) is a pull loop
of per-subsystem scrapers that read kernel counters through gopsutil
and emit one pdata metric slice per scrape.  The pull loop itself is
runtime (SURVEY §2.1 scope rule: Spark's scheduler owns collection
cadence); the DATA half — turning a host's raw counter snapshot into
the receiver's metric names / units / label sets / value scalings —
is a textbook log-parse stage, and that is what this module does,
entirely with Catalyst expressions (regexp_extract / split / explode;
zero Python in the row path).

A *snapshot* is one row per (host, scrape) carrying the raw text of
the kernel interfaces the scrapers read:

  ``proc_stat``  /proc/stat          → cpu + processes scrapers
  ``meminfo``    /proc/meminfo       → memory + paging-usage scrapers
  ``loadavg``    /proc/loadavg       → load scraper
  ``diskstats``  /proc/diskstats     → disk scraper
  ``netdev``     /proc/net/dev       → network counter scraper
  ``nettcp``     /proc/net/tcp       → network connections scraper
  ``vmstat``     /proc/vmstat        → paging operations/faults
  ``statfs``     statfs export table → filesystem scraper (statfs(2)
                 is a syscall, not a /proc file; the table format
                 below is this engine's serialization of it)

``scrape_snapshots`` parses whichever sections are present and emits
one row per datapoint with the reference's exact metric metadata:

* system.cpu.time — DoubleSum/mono/s; 8 states per cpuN line mapped
  exactly like cpu_scraper_linux.go:28-38 (user system idle
  interrupt←irq nice softirq steal wait←iowait), jiffies/USER_HZ(100)
  → seconds (gopsutil cpu_linux ClocksPerSec default).
* system.memory.usage — IntSum/non-mono/By; 6 linux states per
  memory_scraper_linux.go:29-34.  gopsutil v3.20.12 (go.mod pin)
  semantics: Cached = meminfo Cached + SReclaimable, Used = Total -
  Free - Buffers - Cached.
* system.cpu.load_average.{1m,5m,15m} — DoubleGauge/1
  (loadscraper/load_metadata.go:25-46).
* system.disk.{io,operations,merged,io_time,operation_time,
  pending_operations} per diskscraper/disk_metadata.go:39-104;
  bytes = sectors×512, times = ms/1e3 (gopsutil disk_linux).
* system.network.{packets,dropped,errors,io} per
  networkscraper/network_scraper.go:111-165 (direction
  transmit/receive), and system.network.connections counted by TCP
  state with protocol=tcp (network_scraper.go:170-210); the /proc
  hex ``st`` field is mapped to gopsutil's state names.
* system.paging.usage used/free/cached =
  (SwapTotal-SwapFree-SwapCached, SwapFree, SwapCached)
  (paging_scraper_others.go:96-101); system.paging.operations
  major/minor × page_in/page_out from pswp*/pgpg* scaled ×4096
  (gopsutil v3.20.12 mem_linux SwapMemory reports these in bytes);
  system.paging.faults major=pgmajfault, minor=pgfault-pgmajfault
  (paging_scraper_others.go:147-150).
* system.processes.count running/blocked + system.processes.created
  from /proc/stat procs_running / procs_blocked / processes
  (processes_scraper_linux.go:36-49).
* system.filesystem.usage used/free/reserved and
  system.filesystem.inodes.usage used/free with the full 5-label set
  (device/type/mode/mountpoint/state) and getMountMode's rw/ro/
  unknown rule (filesystem_scraper.go:102-133,
  filesystem_scraper_unix.go:25-30); statfs semantics per gopsutil
  disk_unix: Used = total - kernel-free, Free = avail,
  reserved = kernel-free - avail (root reserve).

Datapoint row schema (labels are canonicalized to an
alphabetical-key ``k=v,k=v`` string so the frame stays flat and
ANSI-SQL-oracle-able):

  (<id cols…>, name, unit, data_type, monotonic, temporality,
   labels, int_value, double_value)

``render_snapshots`` is the inverse wire for tests/queries: a frame
of raw counter columns (see ``COUNTER_COLS``) → the /proc-format
text sections, with a fixed 2-cpu / sda / eth0 / one-mount topology
(the parser itself is layout-generic — any number of cpu lines,
devices, interfaces, or mounts).

Scale: each scraper is an expression over its snapshot row that
builds an array of datapoint structs, and ``scrape_snapshots``
inlines their concatenation in one generator, so the source is read
once and nothing shuffles: even the connection counts are counted
within each row.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

USER_HZ = 100  # gopsutil cpu_linux.go ClocksPerSec default
SECTOR_BYTES = 512  # gopsutil disk_linux.go: sectors are 512B fixed
PAGE_BYTES = 4096  # gopsutil mem_linux.go SwapMemory page scaling

# /proc/stat cpuN field index (1-based after the label) → reference
# state label, in the emit order of cpu_scraper_linux.go:28-38
CPU_STATES = (
    (1, "user"),
    (3, "system"),
    (4, "idle"),
    (6, "interrupt"),
    (2, "nice"),
    (7, "softirq"),
    (8, "steal"),
    (5, "wait"),
)

# /proc/net/tcp ``st`` hex → gopsutil net state names (TCP_STATUSES)
TCP_STATES = {
    "01": "ESTABLISHED",
    "02": "SYN_SENT",
    "03": "SYN_RECV",
    "04": "FIN_WAIT1",
    "05": "FIN_WAIT2",
    "06": "TIME_WAIT",
    "07": "CLOSE",
    "08": "CLOSE_WAIT",
    "09": "LAST_ACK",
    "0A": "LISTEN",
    "0B": "CLOSING",
}

# raw counter columns render_snapshots() expects (all bigint unless
# noted); the fixed render topology is 2 cpus / sda / eth0 / 1 mount
COUNTER_COLS = (
    # per-cpu jiffies: user nice system idle iowait irq softirq steal
    *(f"cpu{c}_{f}" for c in (0, 1)
      for f in ("user", "nice", "system", "idle", "iowait", "irq",
                "softirq", "steal")),
    # /proc/meminfo kB
    "mem_total_kb", "mem_free_kb", "buffers_kb", "cached_kb",
    "sreclaim_kb", "sunreclaim_kb",
    "swap_total_kb", "swap_free_kb", "swap_cached_kb",
    # /proc/loadavg (doubles with exactly 2 decimals)
    "load1", "load5", "load15",
    # /proc/diskstats for sda
    "d_reads", "d_reads_merged", "d_sectors_read", "d_ms_reading",
    "d_writes", "d_writes_merged", "d_sectors_written", "d_ms_writing",
    "d_io_in_progress", "d_ms_io",
    # /proc/net/dev for eth0
    "n_rx_bytes", "n_rx_packets", "n_rx_errs", "n_rx_drop",
    "n_tx_bytes", "n_tx_packets", "n_tx_errs", "n_tx_drop",
    # /proc/net/tcp line counts per rendered state
    "tcp_established", "tcp_listen", "tcp_time_wait",
    # /proc/vmstat
    "vm_pswpin", "vm_pswpout", "vm_pgpgin", "vm_pgpgout",
    "vm_pgfault", "vm_pgmajfault",
    # /proc/stat process counters
    "procs_running", "procs_blocked", "processes_created",
    # statfs export for /dev/sda1 on /
    "fs_total_b", "fs_free_b", "fs_avail_b",
    "inodes_total", "inodes_free",
)

SECTION_COLS = (
    "proc_stat", "meminfo", "loadavg", "diskstats", "netdev",
    "nettcp", "vmstat", "statfs",
)


def _dp(
    name: str, unit: str, dtype: str, mono: bool, labels: Column, value: Column,
) -> Column:
    """One datapoint struct: Int* types carry ``int_value``, Double*
    types ``double_value``."""
    is_int = dtype.startswith("Int")
    return F.struct(
        F.lit(name).alias("name"),
        F.lit(unit).alias("unit"),
        F.lit(dtype).alias("data_type"),
        F.lit(1 if mono else 0).cast("bigint").alias("monotonic"),
        F.lit("CUMULATIVE" if dtype.endswith("Sum") else "UNSPECIFIED").alias(
            "temporality"
        ),
        labels.alias("labels"),
        (value if is_int else F.lit(None)).cast("bigint").alias("int_value"),
        (F.lit(None) if is_int else value).cast("double").alias("double_value"),
    )


def _labels(*pairs: tuple[str, Column | str]) -> Column:
    """Canonical label string: alphabetical keys, ``k=v`` joined by
    commas (pairs must be passed pre-sorted — they are literals at
    every call site)."""
    parts: list[Column] = []
    for key, val in pairs:
        val_col = F.lit(val) if isinstance(val, str) else val
        parts.append(F.concat(F.lit(key + "="), val_col))
    if not parts:
        return F.lit("")
    return F.concat_ws(",", *parts)


def _fields(line: Column) -> Column:
    # whitespace-split with leading-blank drop (/proc pads columns)
    return F.split(F.trim(line), r"\s+")


def _field(fields: Column, idx: int, kind: str | None = None) -> Column:
    """Field ``idx`` (1-based) of a split line, cast to ``kind`` if
    given. A truncated line or a non-numeric field gives NULL: an ANSI
    ``element_at`` past the end or a plain cast of garbage would fail
    the whole scrape query."""
    value = F.try_element_at(fields, F.lit(idx))
    return value if kind is None else value.try_cast(kind)


def _lines(
    section: str,
    keep: Callable[[Column], Column],
    parse: Callable[[Column], Column] = _fields,
) -> Column:
    """The kept lines of a multi-line section, each parsed once."""
    return F.transform(F.filter(F.split(F.col(section), "\n"), keep), parse)


def _per_line(lines: Column, dps: Callable[[Column], list[Column]]) -> Column:
    """Every parsed line's datapoints in one array. A NULL section
    gives an empty array, not NULL, so that it cannot null out the
    other scrapers' datapoints in ``scrape_snapshots``'s concat."""
    return F.coalesce(
        F.flatten(F.transform(lines, lambda f: F.array(*dps(f)))), F.array()
    )


def _keyed(section: str, pattern: str) -> Column:
    """The first group of ``pattern`` in a keyed section, as bigint. A
    missing key or a value past the bigint range is NULL: an ANSI cast
    of ``regexp_extract``'s ``''`` or of an overflowing digit run would
    fail the whole query."""
    return F.regexp_extract(F.col(section), pattern, 1).try_cast("bigint")


# ---------------------------------------------------------------------------
# /proc/stat → system.cpu.time + system.processes.*
# ---------------------------------------------------------------------------


def _cpu_time() -> Column:
    """cpu_scraper.go:58-95 over every ``cpuN`` line (percpu=true —
    the aggregate ``cpu `` line is skipped, cpu_scraper.go:63)."""
    lines = _lines("proc_stat", lambda line: line.rlike(r"^cpu[0-9]+\s"))
    return _per_line(lines, lambda f: [
        _dp("system.cpu.time", "s", "DoubleSum", True,
            _labels(("cpu", _field(f, 1)), ("state", state)),
            _field(f, 1 + fld_idx, "double") / USER_HZ)
        for fld_idx, state in CPU_STATES
    ])


def _processes() -> Column:
    """processes_scraper.go:38-42 + processes_scraper_linux.go:36-49:
    count(running/blocked) is a point-in-time gauge-like sum, created
    is the monotonic fork counter."""

    def stat_val(key: str) -> Column:
        return _keyed("proc_stat", rf"(?m)^{key} (\d+)")

    return F.array(
        _dp("system.processes.count", "{processes}", "IntSum", False,
            _labels(("status", "running")), stat_val("procs_running")),
        _dp("system.processes.count", "{processes}", "IntSum", False,
            _labels(("status", "blocked")), stat_val("procs_blocked")),
        _dp("system.processes.created", "{processes}", "IntSum", True,
            _labels(), stat_val("processes")),
    )


# ---------------------------------------------------------------------------
# /proc/meminfo → system.memory.usage + system.paging.usage
# ---------------------------------------------------------------------------


def _meminfo_val(key: str) -> Column:
    return _keyed("meminfo", rf"(?m)^{key}:\s+(\d+) kB")


def _memory_usage() -> Column:
    """memory_scraper_linux.go:29-34 with gopsutil v3.20.12
    VirtualMemory linux semantics (Cached includes SReclaimable;
    Used = Total - Free - Buffers - Cached)."""
    total = _meminfo_val("MemTotal") * 1024
    free = _meminfo_val("MemFree") * 1024
    buffers = _meminfo_val("Buffers") * 1024
    cached = (_meminfo_val("Cached") + _meminfo_val("SReclaimable")) * 1024
    state_values = (
        ("used", total - free - buffers - cached),
        ("free", free),
        ("buffered", buffers),
        ("cached", cached),
        ("slab_reclaimable", _meminfo_val("SReclaimable") * 1024),
        ("slab_unreclaimable", _meminfo_val("SUnreclaim") * 1024),
    )
    return F.array(*[
        _dp("system.memory.usage", "By", "IntSum", False,
            _labels(("state", state)), value)
        for state, value in state_values
    ])


def _paging_usage() -> Column:
    """paging_scraper_others.go:96-101: swap states from the virtual
    memory snapshot (meminfo Swap* fields, bytes)."""
    total = _meminfo_val("SwapTotal") * 1024
    free = _meminfo_val("SwapFree") * 1024
    cached = _meminfo_val("SwapCached") * 1024
    return F.array(*[
        _dp("system.paging.usage", "By", "IntSum", False,
            _labels(("state", state)), value)
        for state, value in (
            ("used", total - free - cached), ("free", free), ("cached", cached),
        )
    ])


# ---------------------------------------------------------------------------
# /proc/loadavg → system.cpu.load_average.*
# ---------------------------------------------------------------------------


def _load() -> Column:
    return F.array(*[
        _dp(f"system.cpu.load_average.{minutes}", "1", "DoubleGauge", False,
            _labels(), _field(_fields(F.col("loadavg")), idx, "double"))
        for idx, minutes in ((1, "1m"), (2, "5m"), (3, "15m"))
    ])


# ---------------------------------------------------------------------------
# /proc/diskstats → system.disk.*
# ---------------------------------------------------------------------------


def _disk() -> Column:
    """disk_scraper.go over /proc/diskstats fields (gopsutil
    disk_linux IOCounters): f4..f14 = reads rmerged rsectors rms
    writes wmerged wsectors wms inflight ioms weightedms."""

    def dps(f: Column) -> list[Column]:
        dev = _field(f, 3)

        def dd(name, unit, direction, value):
            return _dp(name, unit, "IntSum", True,
                       _labels(("device", dev), ("direction", direction)), value)

        return [
            dd("system.disk.io", "By", "read", _field(f, 6, "bigint") * SECTOR_BYTES),
            dd("system.disk.io", "By", "write", _field(f, 10, "bigint") * SECTOR_BYTES),
            dd("system.disk.operations", "{operations}", "read", _field(f, 4, "bigint")),
            dd("system.disk.operations", "{operations}", "write", _field(f, 8, "bigint")),
            dd("system.disk.merged", "{operations}", "read", _field(f, 5, "bigint")),
            dd("system.disk.merged", "{operations}", "write", _field(f, 9, "bigint")),
            # io_time / operation_time are DoubleSums in seconds
            _dp("system.disk.io_time", "s", "DoubleSum", True,
                _labels(("device", dev)), _field(f, 13, "double") / 1e3),
            _dp("system.disk.operation_time", "s", "DoubleSum", True,
                _labels(("device", dev), ("direction", "read")),
                _field(f, 7, "double") / 1e3),
            _dp("system.disk.operation_time", "s", "DoubleSum", True,
                _labels(("device", dev), ("direction", "write")),
                _field(f, 11, "double") / 1e3),
            _dp("system.disk.pending_operations", "{operations}", "IntSum", False,
                _labels(("device", dev)), _field(f, 12, "bigint")),
        ]

    return _per_line(_lines("diskstats", lambda line: F.trim(line) != ""), dps)


# ---------------------------------------------------------------------------
# /proc/net/dev → system.network.{packets,dropped,errors,io}
# ---------------------------------------------------------------------------


def _network() -> Column:
    def parse(line: Column) -> Column:
        return F.struct(
            F.regexp_extract(line, r"^\s*([A-Za-z0-9]+):", 1).alias("dev"),
            _fields(F.regexp_replace(line, r"^\s*[A-Za-z0-9]+:", "")).alias("f"),
        )

    # rx: bytes packets errs drop = f1..f4; tx: f9..f12
    spec = (
        ("system.network.packets", "{packets}", "receive", 2),
        ("system.network.packets", "{packets}", "transmit", 10),
        ("system.network.dropped", "{packets}", "receive", 4),
        ("system.network.dropped", "{packets}", "transmit", 12),
        ("system.network.errors", "{errors}", "receive", 3),
        ("system.network.errors", "{errors}", "transmit", 11),
        ("system.network.io", "By", "receive", 1),
        ("system.network.io", "By", "transmit", 9),
    )
    lines = _lines("netdev", lambda line: line.rlike(r"^\s*[A-Za-z0-9]+:"), parse)
    return _per_line(lines, lambda p: [
        _dp(name, unit, "IntSum", True,
            _labels(("device", p["dev"]), ("direction", direction)),
            _field(p["f"], idx, "bigint"))
        for name, unit, direction, idx in spec
    ])


def _connections() -> Column:
    """network_scraper.go:170-210: count tcp connections by state.
    The hex ``st`` column of /proc/net/tcp maps to gopsutil's state
    names; a code outside that map counts under a NULL state (label
    ``protocol=tcp`` alone). Counted within each snapshot row, so no
    exchange."""
    st_map = F.create_map(
        *[F.lit(x) for kv in TCP_STATES.items() for x in kv]
    )
    states = _lines(
        "nettcp",
        lambda line: line.rlike(r"^\s*\d+:"),
        lambda line: st_map[F.upper(_field(_fields(line), 4))],
    )

    def count_states(st: Column) -> Column:
        return F.transform(F.array_distinct(st), lambda s: _dp(
            "system.network.connections", "{connections}", "IntSum", False,
            _labels(("protocol", "tcp"), ("state", s)),
            F.size(F.filter(st, lambda x: x.eqNullSafe(s))),
        ))

    # let-bound, as trainingdata.text.let_col binds: Spark does not
    # share subexpressions inside lambdas, so an outer reference in the
    # counting lambda would re-derive `states` once per distinct state
    return F.coalesce(
        F.get(F.transform(F.array(states), count_states), 0), F.array()
    )


# ---------------------------------------------------------------------------
# /proc/vmstat → system.paging.{operations,faults}
# ---------------------------------------------------------------------------


def _paging_ops() -> Column:
    def vm(key: str) -> Column:
        return _keyed("vmstat", rf"(?m)^{key} (\d+)")

    operations = [
        _dp("system.paging.operations", "{operations}", "IntSum", True,
            _labels(("direction", direction), ("type", typ)), vm(key) * PAGE_BYTES)
        for typ, direction, key in (
            ("major", "page_in", "pswpin"),
            ("major", "page_out", "pswpout"),
            ("minor", "page_in", "pgpgin"),
            ("minor", "page_out", "pgpgout"),
        )
    ]
    faults = [
        _dp("system.paging.faults", "{faults}", "IntSum", True,
            _labels(("type", typ)), value)
        for typ, value in (
            ("major", vm("pgmajfault")),
            ("minor", vm("pgfault") - vm("pgmajfault")),
        )
    ]
    return F.array(*operations, *faults)


# ---------------------------------------------------------------------------
# statfs export table → system.filesystem.*
# ---------------------------------------------------------------------------


def _filesystem() -> Column:
    """Line format (headerless, whitespace-separated):
    device mountpoint fstype opts total_b free_b avail_b inodes_total
    inodes_free — free_b is the kernel free (bfree), avail_b the
    unprivileged free (bavail); gopsutil disk_unix derives
    Used = total - free_b, Free = avail_b, so the reference's
    ``reserved`` state (filesystem_scraper_unix.go:28) is the root
    reserve free_b - avail_b."""

    def dps(f: Column) -> list[Column]:
        # getMountMode (filesystem_scraper.go:117-133)
        opts = F.split(_field(f, 4), ",")
        mode = (
            F.when(F.array_contains(opts, "rw"), F.lit("rw"))
            .when(F.array_contains(opts, "ro"), F.lit("ro"))
            .otherwise(F.lit("unknown"))
        )
        total, free_k, avail, itotal, ifree = (
            _field(f, i, "bigint") for i in (5, 6, 7, 8, 9)
        )

        def fs_labels(state: str) -> Column:
            return _labels(
                ("device", _field(f, 1)), ("mode", mode),
                ("mountpoint", _field(f, 2)), ("state", state),
                ("type", _field(f, 3)),
            )

        return [
            _dp("system.filesystem.usage", "By", "IntSum", False,
                fs_labels(state), value)
            for state, value in (
                ("used", total - free_k), ("free", avail),
                ("reserved", free_k - avail),
            )
        ] + [
            _dp("system.filesystem.inodes.usage", "{inodes}", "IntSum", False,
                fs_labels(state), value)
            for state, value in (("used", itotal - ifree), ("free", ifree))
        ]

    return _per_line(_lines("statfs", lambda line: F.trim(line) != ""), dps)


# ---------------------------------------------------------------------------
# public API
# ---------------------------------------------------------------------------

_SECTION_SCRAPERS = {
    "proc_stat": (_cpu_time, _processes),
    "meminfo": (_memory_usage, _paging_usage),
    "loadavg": (_load,),
    "diskstats": (_disk,),
    "netdev": (_network,),
    "nettcp": (_connections,),
    "vmstat": (_paging_ops,),
    "statfs": (_filesystem,),
}


def scrape_snapshots(
    snaps: DataFrame, id_cols: Sequence[str] = ("host_id", "ts")
) -> DataFrame:
    """Parse every present snapshot section into datapoint rows.

    Mirrors the receiver's per-scraper enablement: a missing section
    column simply doesn't run that scraper (hostmetricsreceiver
    config.go scrapers map). Each scraper builds its datapoints as an
    array column of the snapshot row, and one ``inline`` over their
    concatenation emits them, so the source is read once. Connection
    counts are per snapshot row: two rows with equal ids count apart.
    """
    present = [c for c in SECTION_COLS if c in snaps.columns]
    if not present:
        raise ValueError(
            f"no snapshot sections among columns {snaps.columns}; "
            f"expected one of {SECTION_COLS}"
        )
    arrays = [scraper() for s in present for scraper in _SECTION_SCRAPERS[s]]
    return snaps.select(*id_cols, F.inline(F.concat(*arrays)))


def render_snapshots(
    counters: DataFrame, id_cols: Sequence[str] = ("host_id", "ts")
) -> DataFrame:
    """Counter columns (COUNTER_COLS) → /proc-format text sections
    with a fixed 2-cpu / sda / eth0 / one-mount topology.  The
    inverse of ``scrape_snapshots`` up to each scraper's documented
    scaling; used by tests and the roundtrip query to manufacture
    deterministic scrape wire without touching the real host."""
    c = F.col

    def cpu_line(label: Column | str, prefix: str | None) -> Column:
        def g(f: str) -> Column:
            if prefix is None:  # aggregate line: sum over both cpus
                return c(f"cpu0_{f}") + c(f"cpu1_{f}")
            return c(f"{prefix}_{f}")

        label_col = F.lit(label) if isinstance(label, str) else label
        return F.format_string(
            "%s %d %d %d %d %d %d %d %d",
            label_col, g("user"), g("nice"), g("system"), g("idle"),
            g("iowait"), g("irq"), g("softirq"), g("steal"),
        )

    proc_stat = F.concat_ws(
        "\n",
        cpu_line("cpu ", None),
        cpu_line("cpu0", "cpu0"),
        cpu_line("cpu1", "cpu1"),
        F.lit("intr 0"),
        F.lit("ctxt 0"),
        F.lit("btime 1600000000"),
        F.format_string("processes %d", c("processes_created")),
        F.format_string("procs_running %d", c("procs_running")),
        F.format_string("procs_blocked %d", c("procs_blocked")),
    )

    meminfo = F.concat_ws(
        "\n",
        *[
            F.format_string(f"{key}:%15d kB", c(col))
            for key, col in (
                ("MemTotal", "mem_total_kb"), ("MemFree", "mem_free_kb"),
                ("Buffers", "buffers_kb"), ("Cached", "cached_kb"),
                ("SReclaimable", "sreclaim_kb"), ("SUnreclaim", "sunreclaim_kb"),
                ("SwapTotal", "swap_total_kb"), ("SwapFree", "swap_free_kb"),
                ("SwapCached", "swap_cached_kb"),
            )
        ],
    )

    loadavg = F.format_string(
        "%.2f %.2f %.2f 2/347 12345", c("load1"), c("load5"), c("load15")
    )

    diskstats = F.format_string(
        "   8       0 sda %d %d %d %d %d %d %d %d %d %d %d",
        c("d_reads"), c("d_reads_merged"), c("d_sectors_read"),
        c("d_ms_reading"), c("d_writes"), c("d_writes_merged"),
        c("d_sectors_written"), c("d_ms_writing"), c("d_io_in_progress"),
        c("d_ms_io"), c("d_ms_io"),
    )

    netdev = F.concat_ws(
        "\n",
        F.lit("Inter-|   Receive                            "
              "    |  Transmit"),
        F.lit(" face |bytes    packets errs drop fifo frame "
              "compressed multicast|bytes    packets errs drop fifo "
              "colls carrier compressed"),
        F.format_string(
            "  eth0: %d %d %d %d 0 0 0 0 %d %d %d %d 0 0 0 0",
            c("n_rx_bytes"), c("n_rx_packets"), c("n_rx_errs"), c("n_rx_drop"),
            c("n_tx_bytes"), c("n_tx_packets"), c("n_tx_errs"), c("n_tx_drop"),
        ),
    )

    def tcp_block(st_hex: str, n: Column) -> Column:
        line = F.lit(
            f"   0: 0100007F:0016 00000000:0000 {st_hex} "
            "00000000:00000000 00:00000000 00000000"
        )
        return F.array_join(
            F.array_repeat(line, n.cast("int")), "\n"
        )

    nettcp = F.concat_ws(
        "\n",
        F.lit("  sl  local_address rem_address   st tx_queue rx_queue "
              "tr tm->when retrnsmt   uid  timeout inode"),
        tcp_block("01", c("tcp_established")),
        tcp_block("0A", c("tcp_listen")),
        tcp_block("06", c("tcp_time_wait")),
    )

    vmstat = F.concat_ws(
        "\n",
        *[
            F.format_string(f"{key} %d", c(f"vm_{key}"))
            for key in ("pswpin", "pswpout", "pgpgin", "pgpgout",
                        "pgfault", "pgmajfault")
        ],
    )

    statfs = F.format_string(
        "/dev/sda1 / ext4 rw,relatime %d %d %d %d %d",
        c("fs_total_b"), c("fs_free_b"), c("fs_avail_b"),
        c("inodes_total"), c("inodes_free"),
    )

    return counters.select(
        *id_cols,
        proc_stat.alias("proc_stat"),
        meminfo.alias("meminfo"),
        loadavg.alias("loadavg"),
        diskstats.alias("diskstats"),
        netdev.alias("netdev"),
        nettcp.alias("nettcp"),
        vmstat.alias("vmstat"),
        statfs.alias("statfs"),
    )
