from __future__ import annotations

import gc

import pytest
from py4j.protocol import MEMORY_COMMAND_NAME


@pytest.fixture(scope="session")
def spark():
    from obsplus_spark import get_spark

    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture()
def py4j_commands(spark):
    """``py4j_commands(fn)`` returns ``(fn(), commands fn sent over py4j)``.

    Counted by wrapping the gateway client's ``send_command``. Memory
    commands (``MEMORY_COMMAND_NAME``, the detach py4j's finalizers send
    for JavaObjects released anywhere in the process) are not counted,
    and a ``gc.collect()`` before the window flushes the backlog, so the
    count is the plan-building calls ``fn`` itself made.
    """
    client = spark.sparkContext._gateway._gateway_client

    def count(fn):
        gc.collect()
        orig = client.send_command
        sent = []

        def counting(command, *a, **kw):
            if not command.startswith(MEMORY_COMMAND_NAME):
                sent.append(1)
            return orig(command, *a, **kw)

        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(client, "send_command", counting)
            return fn(), len(sent)

    return count


@pytest.fixture(scope="session")
def waveform_index(spark):
    """Synthetic waveform-index fixture (FIXTURES.md §1): per seed_id runs
    with exactly-adjacent segments, real gaps, overlapping segments,
    duplicates, and multiple sampling periods. Times are small ints for
    hand-checkability (units: ns)."""
    rows = [
        # network, station, location, channel, starttime, endtime, sampling_period
        # UU.A..HHZ sp=10: adjacent (end+sp == next start), then gap, then overlap
        ("UU", "A", "", "HHZ", 0, 100, 10),
        ("UU", "A", "", "HHZ", 110, 200, 10),   # adjacent: 100+10=110 → no gap
        ("UU", "A", "", "HHZ", 500, 600, 10),   # gap 200→500
        ("UU", "A", "", "HHZ", 550, 580, 10),   # fully swallowed (overlap)
        ("UU", "A", "", "HHZ", 590, 700, 10),   # overlaps previous end 600
        ("UU", "A", "", "HHZ", 590, 700, 10),   # exact duplicate row
        # UU.A..HHZ sp=20: separate group (different sampling period)
        ("UU", "A", "", "HHZ", 0, 50, 20),
        ("UU", "A", "", "HHZ", 200, 300, 20),   # gap 50→200
        # UU.B..HHN: fully contiguous
        ("UU", "B", "", "HHN", 0, 1000, 10),
        ("UU", "B", "", "HHN", 900, 2000, 10),
    ]
    return spark.createDataFrame(
        rows,
        "network string, station string, location string, channel string, "
        "starttime long, endtime long, sampling_period long",
    )
