"""Traffic-shaped benchmark of the engine: see README.md."""
