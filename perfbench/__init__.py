"""Repository benchmark: seeded workloads driven through the engine's public
API.  Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>``; see ``perfbench/README.md``."""

from importlib import import_module

WORKLOADS = {}
for _module in ("clickstream", "stream"):
    _w = import_module(f"perfbench.{_module}").Workload
    WORKLOADS[_w.name] = _w
