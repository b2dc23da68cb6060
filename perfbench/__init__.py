"""Activation-pipeline benchmark for megalista_spark (see perfbench/README.md)."""
