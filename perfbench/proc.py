"""CPU time of the machine and host steal time, from /proc/stat (Linux).

On a shared virtual machine the hypervisor takes CPU away from the guest
("steal"), which stretches wall times by whatever the neighbours do at
that moment. Per-process CPU times are stretched too: the scheduler
charges a task for the time its CPU was stolen while it ran. The
machine's own user/system tick counts leave steal out, so, on a machine
that runs nothing but the benchmark, they measure the program's work.
"""

from __future__ import annotations

import os

TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def machine_busy_s() -> float:
    """CPU seconds this machine has spent on user, system and interrupt
    work since boot, summed over its CPUs. The kernel samples these at
    each tick and leaves out the time the hypervisor stole."""
    with open("/proc/stat", encoding="ascii") as fh:
        f = [int(x) for x in fh.readline().split()[1:8]]
    user, nice, system, _idle, _iowait, irq, softirq = f
    return (user + nice + system + irq + softirq) * TICK_S


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine since boot,
    summed over its CPUs (0 where the kernel does not report it)."""
    with open("/proc/stat", encoding="ascii") as fh:
        f = fh.readline().split()
    return int(f[8]) * TICK_S if len(f) > 8 else 0.0
