package graft

/** Temp dirs for specs, under one per-JVM `graft_spec*` root. */
object TestDirs extends TempRoot("graft_spec")
