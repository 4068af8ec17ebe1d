"""The repository benchmark: two workloads driven through the package's
public entry points, a Spark stage-metrics reader and a Spark-free traced
replay. Run it as ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`` from the repository root; see README.md."""
