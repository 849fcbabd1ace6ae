"""Closed-loop A/B benchmark for ukis_kafka_spark (see README.md)."""
