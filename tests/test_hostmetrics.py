"""hostmetrics scraper source: /proc-format snapshot text → the
receiver's metric datapoints (sources/hostmetrics.py; reference
receiver/hostmetricsreceiver/internal/scraper/*)."""

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_spark.sources.hostmetrics import (
    COUNTER_COLS,
    CPU_STATES,
    render_snapshots,
    scrape_snapshots,
)


def _counters(spark, values: dict):
    """One-row counter frame; unlisted counters default to 0."""
    row = {
        c: values.get(c, 0.0 if c.startswith("load") else 0)
        for c in COUNTER_COLS
    }
    row["host_id"] = "h0"
    row["ts"] = 0
    df = spark.createDataFrame(
        [tuple(row[c] for c in ("host_id", "ts", *COUNTER_COLS))],
        schema="host_id string, ts bigint, "
        + ", ".join(
            f"{c} double" if c.startswith("load") else f"{c} bigint"
            for c in COUNTER_COLS
        ),
    )
    return df


def _dp_map(dps):
    out = {}
    for r in dps.collect():
        key = (r["name"], r["labels"])
        assert key not in out, f"duplicate datapoint {key}"
        out[key] = r
    return out


def test_roundtrip_exact_values(spark):
    vals = {
        "cpu0_user": 123, "cpu0_iowait": 45, "cpu1_steal": 7,
        "mem_total_kb": 1000, "mem_free_kb": 100, "buffers_kb": 50,
        "cached_kb": 200, "sreclaim_kb": 30, "sunreclaim_kb": 10,
        "swap_total_kb": 500, "swap_free_kb": 300, "swap_cached_kb": 20,
        "load1": 1.23, "load5": 0.05, "load15": 12.5,
        "d_sectors_read": 100, "d_ms_io": 2500, "d_ms_reading": 75,
        "d_io_in_progress": 3, "d_writes_merged": 9,
        "n_rx_bytes": 1111, "n_tx_drop": 4,
        "tcp_established": 2, "tcp_listen": 1, "tcp_time_wait": 0,
        "vm_pswpin": 7, "vm_pgpgout": 11,
        "vm_pgfault": 900, "vm_pgmajfault": 40,
        "procs_running": 5, "procs_blocked": 2, "processes_created": 4242,
        "fs_total_b": 1000_000, "fs_free_b": 400_000, "fs_avail_b": 350_000,
        "inodes_total": 90, "inodes_free": 60,
    }
    snaps = render_snapshots(_counters(spark, vals))
    m = _dp_map(scrape_snapshots(snaps))

    # cpu: jiffies/USER_HZ, reference state names (interrupt/wait)
    assert m[("system.cpu.time", "cpu=cpu0,state=user")]["double_value"] == 1.23
    assert m[("system.cpu.time", "cpu=cpu0,state=wait")]["double_value"] == 0.45
    assert m[("system.cpu.time", "cpu=cpu1,state=steal")]["double_value"] == 0.07
    cpu_dp = m[("system.cpu.time", "cpu=cpu0,state=idle")]
    assert (cpu_dp["data_type"], cpu_dp["monotonic"], cpu_dp["unit"],
            cpu_dp["temporality"]) == ("DoubleSum", 1, "s", "CUMULATIVE")

    # memory: gopsutil cached = Cached + SReclaimable, used = the rest
    assert m[("system.memory.usage", "state=cached")]["int_value"] == 230 * 1024
    assert (
        m[("system.memory.usage", "state=used")]["int_value"]
        == (1000 - 100 - 50 - 230) * 1024
    )
    assert m[("system.memory.usage", "state=slab_unreclaimable")][
        "int_value"] == 10 * 1024

    # load gauges survive the %.2f wire exactly
    load = m[("system.cpu.load_average.1m", "")]
    assert load["double_value"] == 1.23
    assert (load["data_type"], load["monotonic"], load["temporality"]) == (
        "DoubleGauge", 0, "UNSPECIFIED")
    assert m[("system.cpu.load_average.15m", "")]["double_value"] == 12.5

    # disk: sectors×512, ms/1e3, merged/pending passthrough
    assert m[("system.disk.io", "device=sda,direction=read")][
        "int_value"] == 100 * 512
    assert m[("system.disk.io_time", "device=sda")]["double_value"] == 2.5
    assert m[("system.disk.operation_time", "device=sda,direction=read")][
        "double_value"] == 0.075
    assert m[("system.disk.pending_operations", "device=sda")]["int_value"] == 3
    assert m[("system.disk.merged", "device=sda,direction=write")][
        "int_value"] == 9

    # network counters by direction
    assert m[("system.network.io", "device=eth0,direction=receive")][
        "int_value"] == 1111
    assert m[("system.network.dropped", "device=eth0,direction=transmit")][
        "int_value"] == 4

    # tcp connection counts by mapped state; zero-count state absent
    assert m[("system.network.connections",
              "protocol=tcp,state=ESTABLISHED")]["int_value"] == 2
    assert m[("system.network.connections",
              "protocol=tcp,state=LISTEN")]["int_value"] == 1
    assert ("system.network.connections",
            "protocol=tcp,state=TIME_WAIT") not in m

    # paging: swap states from meminfo; ops ×4096; faults split
    assert m[("system.paging.usage", "state=used")][
        "int_value"] == (500 - 300 - 20) * 1024
    assert m[("system.paging.operations",
              "direction=page_in,type=major")]["int_value"] == 7 * 4096
    assert m[("system.paging.operations",
              "direction=page_out,type=minor")]["int_value"] == 11 * 4096
    assert m[("system.paging.faults", "type=major")]["int_value"] == 40
    assert m[("system.paging.faults", "type=minor")]["int_value"] == 860

    # processes
    assert m[("system.processes.count", "status=running")]["int_value"] == 5
    assert m[("system.processes.count", "status=blocked")]["int_value"] == 2
    created = m[("system.processes.created", "")]
    assert (created["int_value"], created["monotonic"]) == (4242, 1)

    # filesystem: statfs semantics (used = total - kernel free,
    # free = avail, reserved = kernel free - avail), 5-label set
    fs = "device=/dev/sda1,mode=rw,mountpoint=/,state={},type=ext4"
    assert m[("system.filesystem.usage", fs.format("used"))][
        "int_value"] == 600_000
    assert m[("system.filesystem.usage", fs.format("free"))][
        "int_value"] == 350_000
    assert m[("system.filesystem.usage", fs.format("reserved"))][
        "int_value"] == 50_000
    assert m[("system.filesystem.inodes.usage", fs.format("used"))][
        "int_value"] == 30


def test_parser_is_layout_generic(spark):
    """The query renders a fixed topology but the parser handles any
    cpu/device/interface/mount count — and skips the aggregate
    ``cpu `` line exactly like percpu=true (cpu_scraper.go:63)."""
    proc_stat = "\n".join([
        "cpu  60 0 0 0 0 0 0 0",
        "cpu0 10 0 0 0 0 0 0 0",
        "cpu1 20 0 0 0 0 0 0 0",
        "cpu2 30 0 0 0 0 0 0 0",
        "processes 1",
        "procs_running 1",
        "procs_blocked 0",
    ])
    diskstats = "\n".join([
        "   8       0 sda 1 0 10 0 2 0 20 0 0 0 0",
        "   8      16 sdb 3 0 30 0 4 0 40 0 0 0 0",
    ])
    statfs = "\n".join([
        "/dev/sda1 / ext4 rw,relatime 100 40 35 10 6",
        "/dev/sdb1 /data xfs ro 200 80 70 20 12",
        "tmpfs /tmp tmpfs noexec 50 20 15 5 3",
    ])
    snaps = spark.createDataFrame(
        [("h0", 0, proc_stat, diskstats, statfs)],
        schema="host_id string, ts bigint, proc_stat string, "
        "diskstats string, statfs string",
    )
    m = _dp_map(scrape_snapshots(snaps))
    cpus = {k[1] for k in m if k[0] == "system.cpu.time"}
    assert len(cpus) == 24  # 3 cpus × 8 states, no aggregate line
    assert m[("system.cpu.time", "cpu=cpu2,state=user")]["double_value"] == 0.3
    assert m[("system.disk.io", "device=sdb,direction=write")][
        "int_value"] == 40 * 512
    # getMountMode: ro honored, anything else unknown
    assert m[("system.filesystem.usage",
              "device=/dev/sdb1,mode=ro,mountpoint=/data,state=used,type=xfs")][
        "int_value"] == 120
    assert m[("system.filesystem.inodes.usage",
              "device=tmpfs,mode=unknown,mountpoint=/tmp,state=free,type=tmpfs")][
        "int_value"] == 3


def test_section_enablement(spark):
    """Missing section columns = scraper disabled (receiver config
    semantics); a frame with no sections at all is an error."""
    snaps = spark.createDataFrame(
        [("h0", 0, "MemTotal:     100 kB\nMemFree:      40 kB\n"
          "Buffers:      5 kB\nCached:       10 kB\nSReclaimable: 2 kB\n"
          "SUnreclaim:   1 kB\nSwapTotal:    8 kB\nSwapFree:     6 kB\n"
          "SwapCached:   1 kB")],
        schema="host_id string, ts bigint, meminfo string",
    )
    names = {r["name"] for r in scrape_snapshots(snaps).collect()}
    assert names == {"system.memory.usage", "system.paging.usage"}

    with pytest.raises(ValueError, match="no snapshot sections"):
        scrape_snapshots(
            spark.createDataFrame([("h0", 0)], "host_id string, ts bigint")
        )


def test_no_python_in_row_path(spark):
    """Everything is Catalyst expression work: the scrape plan must
    contain no Python/Arrow eval nodes, no exchange (connections are
    counted within each snapshot row) and one generator for every
    scraper's datapoints."""
    snaps = render_snapshots(_counters(spark, {"tcp_established": 1}))
    plan = scrape_snapshots(snaps)._jdf.queryExecution().executedPlan().toString()
    assert "PythonUDF" not in plan and "ArrowEval" not in plan
    assert "Exchange" not in plan, plan
    assert plan.count("Generate") == 1, plan


def _tcp_line(st: str) -> str:
    return (f"   0: 0100007F:0016 00000000:0000 {st} "
            "00000000:00000000 00:00000000 00000000")


def test_null_section_keeps_other_datapoints(spark):
    """A NULL section emits none of its scraper's datapoints and keeps
    every other scraper's datapoints of the row. An ``st`` code outside
    the state map counts under no state label; a lowercase code maps."""
    nettcp = "\n".join(
        ["  sl  local_address rem_address   st tx_queue rx_queue"]
        + [_tcp_line(st) for st in ("01", "0a", "0C", "0C")]
    )
    snaps = spark.createDataFrame(
        [("h0", 0, None, nettcp),
         ("h1", 1, "processes 3\nprocs_running 1\nprocs_blocked 0", None)],
        "host_id string, ts bigint, proc_stat string, nettcp string",
    )
    got = sorted(
        (r["host_id"], r["name"], r["labels"], r["int_value"])
        for r in scrape_snapshots(snaps).collect()
    )
    conns, procs = "system.network.connections", "system.processes.count"
    assert got == [
        ("h0", conns, "protocol=tcp", 2),
        ("h0", conns, "protocol=tcp,state=ESTABLISHED", 1),
        ("h0", conns, "protocol=tcp,state=LISTEN", 1),
        ("h0", procs, "status=blocked", None),
        ("h0", procs, "status=running", None),
        ("h0", "system.processes.created", "", None),
        ("h1", procs, "status=blocked", 0),
        ("h1", procs, "status=running", 1),
        ("h1", "system.processes.created", "", 3),
    ]


def test_missing_key_is_null_not_a_failed_query(spark):
    """A keyed section without some of its keys: each missing key's
    datapoint is NULL (regexp_extract's ``''`` would fail the ANSI cast
    of the whole query); present keys keep their values."""
    snaps = spark.createDataFrame(
        [("h0", 0, "cpu0 1 2 3 4 5 6 7 8\nprocesses 3",
          "MemTotal:  100 kB\nSwapFree:  4 kB", "pswpin 2")],
        "host_id string, ts bigint, proc_stat string, meminfo string,"
        " vmstat string",
    )
    m = _dp_map(scrape_snapshots(snaps))
    values = {
        k: r["int_value"] if r["data_type"].startswith("Int") else r["double_value"]
        for k, r in m.items()
    }
    cpu = {("system.cpu.time", f"cpu=cpu0,state={state}"): i / 100
           for i, state in CPU_STATES}
    assert {k: v for k, v in values.items() if v is not None} == {
        **cpu,
        ("system.processes.created", ""): 3,
        ("system.paging.usage", "state=free"): 4 * 1024,
        ("system.paging.operations", "direction=page_in,type=major"): 2 * 4096,
    }
    # 8 cpu + 3 processes + 6 memory + 3 paging usage + 6 paging ops
    assert len(values) == 26


@pytest.mark.parametrize(
    "section, text, want",
    [
        # a truncated cpu line: user and nice parse, the rest is NULL
        ("proc_stat", "cpu0 1 2", {
            ("system.cpu.time", "cpu=cpu0,state=user"): 0.01,
            ("system.cpu.time", "cpu=cpu0,state=nice"): 0.02,
        }),
        # a truncated disk line: only read operations and merges parse
        ("diskstats", "8 0 sda 1 2", {
            ("system.disk.operations", "device=sda,direction=read"): 1,
            ("system.disk.merged", "device=sda,direction=read"): 2,
        }),
        ("loadavg", "0.5", {("system.cpu.load_average.1m", ""): 0.5}),
        # a keyed value past the bigint range
        ("proc_stat", "processes 99999999999999999999\nprocs_running 2", {
            ("system.processes.count", "status=running"): 2,
        }),
        # a non-numeric field is NULL, its neighbours keep their values
        ("loadavg", "0.5 x 0.25", {
            ("system.cpu.load_average.1m", ""): 0.5,
            ("system.cpu.load_average.15m", ""): 0.25,
        }),
    ],
)
def test_truncated_line_gives_null_datapoints(spark, section, text, want):
    """A line cut short or holding garbage yields NULL datapoints for
    the fields it lacks, never a failed scrape query."""
    snaps = spark.createDataFrame(
        [("h0", 0, text)], f"host_id string, ts bigint, {section} string"
    )
    values = {
        k: r["int_value"] if r["data_type"].startswith("Int") else r["double_value"]
        for k, r in _dp_map(scrape_snapshots(snaps)).items()
    }
    assert {k: v for k, v in values.items() if v is not None} == want
    assert len(values) > len(want)  # the missing fields are NULL rows
