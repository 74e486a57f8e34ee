"""Measured streaming state telemetry (round-9 verdict ask #4).

Runs the multibatch streaming gates at the given SF and prints each
micro-batch's state-store telemetry (stateOperators: numRowsTotal,
memoryUsedBytes) — the measured evidence behind SCALE.md's claim that
streaming state grows with KEYS (open windows / sessions / pending
rows), not input volume.

Usage: python tools/stream_state_probe.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

STREAMS = (
    "stream_tw_tumbling_multibatch",
    "stream_session_window_multibatch",
    "stream_ss_asof_multibatch",
)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    import __spark_entry__ as entry_mod
    from hpaste_spark import get_spark

    spark = get_spark("stream-state-probe")
    for name in STREAMS:
        entry_mod._QUERIES[name](spark, sf_dir).collect()
        prog = entry_mod._LAST_STREAM_PROGRESS.get(name, [])
        print(f"\n## {name} ({sf_dir})")
        print("| batch | input rows | state op | state rows | state MiB "
              "| state parts | rows/part | KiB/part |")
        print("|---|---|---|---|---|---|---|---|")
        for p in prog:
            ops = p["stateOperators"] or [{}]
            for op in ops:
                mib = (op.get("memoryUsedBytes") or 0) / (1 << 20)
                parts = op.get("numShufflePartitions") or 0
                rpp = (op.get("numRowsTotal") or 0) / parts if parts else 0
                kpp = ((op.get("memoryUsedBytes") or 0) / parts / 1024
                       if parts else 0)
                print(
                    f"| {p['batchId']} | {p['numInputRows']} "
                    f"| {op.get('operator', '-')} "
                    f"| {op.get('numRowsTotal', '-')} | {mib:.2f} "
                    f"| {parts or '-'} | {rpp:.0f} | {kpp:.1f} |"
                )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
