"""Benchmark of the HRI validation pipeline and the driver-contract queries; see README.md."""
