"""Repository benchmark: cold serving, warm concurrent serving and the
build -> ingest -> compact lifecycle of alexandria_spark.

Run one workload with ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>``; see ``perfbench/README.md``.
"""
