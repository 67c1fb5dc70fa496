"""Same-host benchmark for geospark; run ``python3 perfbench/run.py --help``."""
