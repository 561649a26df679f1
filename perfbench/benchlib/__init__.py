"""Helpers of the benchmark runner: statistics, span arithmetic, digests."""
