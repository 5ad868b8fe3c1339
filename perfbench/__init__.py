"""Link-graph benchmark for pcd_spark; entry point perfbench/run.py."""
