"""DuckDB memory cap for the staged oracles: half of MemTotal, at least 1 GB and at most
24 GB (the same rule tools/heap.sh applies to the JVM heap), so a run never asks DuckDB
for more memory than the machine has; spills go to the oracle's temp_directory."""


def memory_limit():
    """The `PRAGMA memory_limit` value, e.g. '7GB'; '4GB' when MemTotal is unreadable."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "4GB"
    return f"{min(24, max(1, kb // 2097152))}GB"
