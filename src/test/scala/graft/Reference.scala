package graft

/** Root of the Hive 2.3.2 source checkout that the golden, HPL/SQL,
  * function-inventory and RCFile specs read queries, recorded results
  * and data files from. Those specs fail when it is absent. */
object Reference {
  val Root = "/root/reference"
}
