"""Operator benchmark for gis_tools_spark; see README.md."""
