"""End-to-end benchmark of the readability_spark extraction job.

``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` prints one JSON result line; see perfbench/README.md.
"""
