"""zseq benchmark: three workloads, end-to-end metrics, and a traced run
that attributes time and bytes to the engine's layers. Entry point:
``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root (see perfbench/README.md)."""
